package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text operators for training-data curation:
  * benchmark-contamination detection, inverted-index construction,
  * PMI co-occurrence statistics, and paragraph-level keep-first
  * dedup. Every similarity or co-occurrence computation is an
  * equi-join on a derived key (shingle / token / chunk text), never an
  * all-pairs product, so the shapes hold at 100 TB. Two operators
  * materialise a shared intermediate eagerly, so building their plan
  * runs a Spark job and later filters do not push past it:
  * `vocabCoverage` (the distinct-token frequency table) and
  * `psiDrift` (the per-bucket count table). Counts are exact integers
  * and the only floating math is a final ln + floor6, making every
  * operator bit-replayable by the DuckDB oracle.
  */
object Corpus {

  /** Lowercased alphanumeric word tokens (empty strings dropped) —
    * the same tokenizer as Relevance/the inverted index so corpus
    * statistics compose.
    */
  private def toks(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Consecutive chunkWords-word chunks — one kernel pass
    * ([[graft.functions.WordChunks]]); value-identical to the Column
    * spelling WordShinglesSpec keeps as its reference.
    */
  private def wordChunks(text: Column, chunkWords: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.WordChunks(
        org.apache.spark.sql.GraftBridge.expression(text), chunkWords))

  /** Benchmark-contamination scan: which corpus docs share at least
    * one word n-gram with a held-out benchmark set. This is the
    * standard decontamination pass run before training (n=8..13 gram
    * overlap vs eval sets); the join key is the shingle string, so the
    * plan is one equi-join however large the corpus — the benchmark
    * side is tiny and broadcasts.
    *
    * Output per contaminated corpus doc: keyCol, bench_docs (distinct
    * benchmark docs hit), shared_shingles (distinct offending
    * n-grams). Benchmark members are excluded from the output (they
    * trivially "contaminate" themselves).
    */
  def contamination(corpus: DataFrame, bench: DataFrame, textCol: String,
                    keyCol: String, n: Int): DataFrame = {
    val corpusSh = corpus.select(col(keyCol),
      explode(TextOps.wordShingles(col(textCol), n)).as("sh"))
    val benchSh = bench.select(col(keyCol).as("bench_id"),
      explode(TextOps.wordShingles(col(textCol), n)).as("sh"))
    corpusSh
      .join(broadcast(benchSh), "sh")
      .where(col(keyCol) =!= col("bench_id"))
      .groupBy(col(keyCol))
      .agg(countDistinct(col("bench_id")).as("bench_docs"),
        countDistinct(col("sh")).as("shared_shingles"))
  }

  /** Inverted index with truncated postings: per token its document
    * frequency, total term frequency, and the top-`topK` postings
    * ranked by (tf desc, doc asc) — the deterministic tie-break that
    * lets the oracle replay the ranking. Emitted exploded
    * (token, df, tf_total, rank, doc, tf) so the result is flat
    * relational.
    *
    * Scale: one map-side-combinable groupBy(token, doc), one
    * window per token. A genuinely Zipf-skewed corpus would salt the
    * head tokens through the two-phase top-k (Sample.saltedTopK,
    * q121) — the ranking semantics here are identical.
    */
  def invertedIndex(docs: DataFrame, textCol: String, keyCol: String,
                    topK: Int): DataFrame = {
    val tokDoc = docs
      .select(col(keyCol).as("doc"), explode(toks(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc"))
      .agg(count(lit(1)).as("tf"))
    val stats = tokDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val w = Window.partitionBy(col("token"))
      .orderBy(col("tf").desc, col("doc").asc)
    tokDoc.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .join(stats, "token")
      .select(col("token"), col("df"), col("tf_total"),
        col("rank"), col("doc"), col("tf"))
  }

  /** Pointwise mutual information over within-document co-occurrence:
    *   pmi(a,b) = ln(N * c(a,b) / (c(a) * c(b)))
    * with c(x) = docs containing x, c(a,b) = docs containing both,
    * N = docs with at least one token; pairs ordered a < b and
    * thresholded at `minPairCount` co-occurrences.
    *
    * Pair generation is per-row array math (sorted distinct tokens →
    * upper-triangle pairs), NOT a self-join: a doc with t distinct
    * tokens costs t(t-1)/2 rows locally and the only shuffle is the
    * pair-count groupBy. All counts are exact integers; ln + floor6
    * happens once at the end.
    */
  def pmiPairs(docs: DataFrame, textCol: String, keyCol: String,
               minPairCount: Long): DataFrame = {
    val dt = docs.select(col(keyCol).as("doc"),
      array_sort(array_distinct(toks(col(textCol)))).as("ts"))
      .where(size(col("ts")) > 0)
    val nDocs = dt.agg(count(lit(1)).as("n_docs"))
    // upper-triangle pair generation is ONE kernel pass per row
    // (UpperTrianglePairs) — the r5 nested-transform Column spelling
    // re-sliced the token array per element with per-pair boxing;
    // value-identical (spec-gated), same O(t^2/2) output rows
    val pairs = dt.select(col("doc"), explode(
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.UpperTrianglePairs(
            org.apache.spark.sql.GraftBridge.expression(col("ts"))))).as("p"))
      .select(col("doc"), col("p.a").as("tok_a"), col("p.b").as("tok_b"))
    val cab = pairs.groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minPairCount)
    val cx = dt.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    cab
      .join(broadcast(cx.select(col("t").as("tok_a"), col("c").as("ca"))), "tok_a")
      .join(broadcast(cx.select(col("t").as("tok_b"), col("c").as("cb"))), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("cab"),
        TextOps.floor6(log(
          col("n_docs").cast("double") * col("cab").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double")))).as("pmi"))
  }

  /** Paragraph-level keep-first dedup: text is chunked into
    * consecutive `chunkWords`-word windows; identical chunks across
    * the whole corpus keep only their first occurrence (smallest
    * (doc, position) — a total order, so the survivor set is unique
    * and partitioning-invariant). Output per doc: n_chunks, kept.
    *
    * The global "first occurrence" is one window over the chunk text —
    * the same one-shuffle shape as exact doc-level dedup (q34), just
    * at sub-document granularity.
    */
  def paragraphDedup(docs: DataFrame, textCol: String, keyCol: String,
                     chunkWords: Int): DataFrame = {
    // chunking is ONE kernel pass (WordChunks) — the r5 Column
    // spelling re-evaluated the tokenize subtree inside the transform
    // lambda once per chunk (O(len^2/w) regex work per row); the
    // kernel is value-identical, spec-gated (WordShinglesSpec)
    val chunks = wordChunks(col(textCol), chunkWords)
    val exploded = docs
      .select(col(keyCol).as("doc"), posexplode(chunks).as(Seq("idx", "chunk")))
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col("doc").asc, col("idx").asc)
    exploded
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept"))
  }

  /** Boilerplate detection (the CCNet line-frequency idea at chunk
    * granularity): a chunk (consecutive `chunkWords`-word window,
    * within-doc distinct) is boilerplate when its document frequency
    * inside its source exceeds `maxDocFrac` of that source's docs —
    * headers, navigation, subscribe-banners repeat across a site; body
    * text does not. Output per doc: n_chunks (distinct), n_boiler.
    *
    * Shape: one groupBy(src, chunk) for document frequencies (map-side
    * combinable), re-attached by the same key; per-source doc counts
    * broadcast. No window, no product.
    */
  def boilerplate(docs: DataFrame, textCol: String, keyCol: String,
                  srcCol: String, chunkWords: Int, maxDocFrac: Double): DataFrame = {
    // one kernel pass for the chunking (see paragraphDedup)
    val chunks = wordChunks(col(textCol), chunkWords)
    val ex = docs.select(col(keyCol).as("doc"), col(srcCol).as("src"),
      explode(array_distinct(chunks)).as("chunk"))
    val srcSizes = docs.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("n_docs"))
    val dfc = ex.groupBy(col("src"), col("chunk")).agg(count(lit(1)).as("cdf"))
    ex.join(dfc, Seq("src", "chunk"))
      .join(broadcast(srcSizes), "src")
      .withColumn("__boiler",
        col("cdf").cast("double") > col("n_docs").cast("double") * lit(maxDocFrac))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_boiler"))
  }

  /** Zipf rank-frequency slope per group: least-squares fit of
    * ln(freq) against ln(rank) over the top `topR` tokens (rank by
    * freq desc, token asc — deterministic). Natural text sits near
    * slope -1; corpus segments far off it (boilerplate, spam, tables)
    * are quality-filter candidates.
    *
    * Numerical discipline: ln(rank)/ln(freq) are quantized to
    * fixed-point BIGINT (floor(ln·1e6)) BEFORE the regression sums, so
    * Σx, Σy, Σxy, Σx² are exact integers — partitioning-invariant and
    * oracle-replayable; the closed-form slope
    * (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) does ONE double division at the
    * end (the 1e6 scale cancels). Magnitudes: x,y ≤ ln(1e12)·1e6 ≈
    * 2.8e7, so nΣxy at topR ≤ 1e3 stays ~1e17 < 2^63.
    */
  def zipfSlope(docs: DataFrame, textCol: String, groupCol: String,
                topR: Int): DataFrame = {
    val freqs = docs
      .select(col(groupCol).as("grp"), explode(toks(col(textCol))).as("token"))
      .groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("freq").desc, col("token").asc)
    val ranked = freqs
      .withColumn("r", row_number().over(w).cast("long"))
      .where(col("r") <= topR)
      .select(col("grp"),
        floor(log(col("r").cast("double")) * lit(1000000.0)).cast("long").as("xq"),
        floor(log(col("freq").cast("double")) * lit(1000000.0)).cast("long").as("yq"))
    ranked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
      .where(col("n_terms") >= 2)
      .select(col("grp"), col("n_terms"),
        TextOps.floor6(
          (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"))
  }

  /** Vocabulary coverage curve — the tokenizer-design statistic: what
    * fraction of the corpus token MASS do the top-k vocabulary entries
    * cover? One global token-frequency aggregation, one window cumsum
    * in frequency-rank order (ties by token asc — total order), exact
    * integer mass everywhere; emitted at the requested rank
    * checkpoints. Output: k, vocab_size, cum_mass, total_mass (the
    * caller divides; both BIGINTs so the row is hash-exact).
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    val freqs = docs.select(explode(toks(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      // EAGER checkpoint: freqs feeds BOTH the top-k ranking and the
      // totals aggregate — unmaterialized, the tokenize + frequency
      // aggregation runs twice (the q154 plan showed the subtree
      // duplicated). The table is the DISTINCT-token frequency list:
      // far smaller than the corpus, but it still grows with it
      // (sub-linearly, by Heaps' law).
      .localCheckpoint()
    // r5 ran the (freq desc, token) ranking window UNPARTITIONED —
    // a single-task global sort of the whole distinct-token table at
    // corpus scale. Only the top max(ks) rows can pass the k filter,
    // so prune to the exact two-phase top-k survivor set first (the
    // global order is total and survivors are an order-prefix
    // superset, so the ranks and prefix sums are unchanged).
    // ks.max on an empty list would throw at plan build; k=0 keeps the
    // r5 behavior (a valid plan whose isin() matches nothing)
    val cum = topByGlobalOrder(freqs, if (ks.isEmpty) 0 else ks.max)
      .withColumn("k", row_number().over(globalTokenOrder).cast("long"))
      .withColumn("cum_mass",
        sum(col("freq")).over(globalTokenOrder
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = freqs.agg(count(lit(1)).as("vocab_size"),
      sum(col("freq")).as("total_mass"))
    cum.where(col("k").isin(ks.map(_.toLong): _*))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("vocab_size"), col("cum_mass"), col("total_mass"))
  }

  /** The corpus-wide vocabulary order: freq desc, token asc — a total
    * order shared by vocabCoverage / vocabEncode.
    */
  private def globalTokenOrder =
    Window.orderBy(col("freq").desc, col("token").asc)

  /** Exact top-`k` of a (token, freq) table under [[globalTokenOrder]]
    * WITHOUT a full global sort: phase 1 keeps each hash bucket's own
    * top k (a dominated row — ranked below k rows of its bucket — can
    * never be in the global top k), phase 2's global window then runs
    * on <= 256*k survivor rows instead of the whole vocabulary. Every
    * globally-better row survives phase 1 too (order-prefix property),
    * so survivor ranks equal full-table ranks: bit-identical output.
    */
  private def topByGlobalOrder(freqs: DataFrame, k: Int): DataFrame = {
    val wB = Window.partitionBy(pmod(xxhash64(col("token")), lit(256L)))
      .orderBy(col("freq").desc, col("token").asc)
    freqs.withColumn("__rb", row_number().over(wB))
      .where(col("__rb") <= k)
      .drop("__rb")
  }

  /** Fuzzy near-match pairs: minhash-LSH candidates refined by exact
    * Levenshtein distance on a bounded prefix — the entity-resolution
    * shape (title/url fuzzy matching) where the DP edit distance is
    * affordable because it only runs on LSH survivors and a fixed-
    * length slice, never all pairs. Candidates come from the existing
    * banded minhash join (key_a < key_b, deduped); both engines
    * compute the classic integer DP so the oracle can refine its own
    * brute-force candidates identically.
    */
  def fuzzyPairs(docs: DataFrame, textCol: String, keyCol: String,
                 prefixLen: Int, maxDist: Int,
                 threshold: Double = 0.5): DataFrame = {
    val cand = Dedup.minhashNearDups(docs, textCol, keyCol, threshold)
      .select(col("key_a"), col("key_b"))
    val texts = docs.select(col(keyCol), substring(col(textCol), 1, prefixLen).as("__p"))
    cand
      .join(texts.select(col(keyCol).as("key_a"), col("__p").as("__pa")), "key_a")
      .join(texts.select(col(keyCol).as("key_b"), col("__p").as("__pb")), "key_b")
      .withColumn("dist", levenshtein(col("__pa"), col("__pb")).cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("key_a"), col("key_b"), col("dist"))
  }

  /** Temperature-resampled multilingual mix (the alpha=0.5 sampling
    * used to build multilingual training mixes): per-group quota
    *   quota(g) = floor(budget * wq(g) / Σ wq),  wq(g) = floor(sqrt(n_g)·1e6)
    * and per-doc selection of the quota docs with the smallest
    * md5(key) — a deterministic, engine-independent "random" order.
    * sqrt is correctly rounded IEEE and the weight is quantized to
    * BIGINT before the normalizing sum, so quotas are exact integers
    * under any partitioning. Quotas may exceed a rare group's size
    * (that is upsampling's signal): picked = min(quota, n_g).
    *
    * Output per doc: keyCol, group, kept (boolean). One groupBy for
    * counts (broadcast back), one window per group for the rank.
    */
  def temperatureSample(docs: DataFrame, groupCol: String, keyCol: String,
                        budget: Long): DataFrame = {
    val counts = docs.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__wq", floor(sqrt(col("__n").cast("double")) * lit(1000000.0))
        .cast("long"))
    val tot = counts.agg(sum(col("__wq")).as("__wtot"))
    val quotas = counts.crossJoin(broadcast(tot))
      .select(col("__g"), col("__n"),
        floor(lit(budget) * col("__wq") / col("__wtot")).cast("long").as("__quota"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
    docs.select(col(keyCol), col(groupCol))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .join(broadcast(quotas), col(groupCol) === col("__g"))
      .select(col(keyCol), col(groupCol),
        (col("__rn") <= col("__quota")).as("kept"))
  }

  /** Exact duplicated-substring spans — the substring-granular dedup
    * pass (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") at word-token granularity: every
    * stride-1 window of `w` consecutive tokens that occurs more than
    * once ANYWHERE in the corpus (across docs or repeated within one)
    * marks its token range as duplicated, and overlapping marked
    * windows merge into maximal spans. A doc-level or chunk-level
    * dedup (q34/q143) misses exactly these — the quoted paragraph,
    * the templated license block, the lyrics chorus embedded in
    * otherwise-unique pages.
    *
    * Output per doc with at least one duplicated window:
    * (doc, n_spans, dup_tokens, n_toks) — merged span count, total
    * tokens inside merged spans, doc token count.
    *
    * Shape, and why it holds at 100 TB:
    *  - candidate generation is a stride-1 window explode (≈ one row
    *    per corpus token — the same cardinality q154's global
    *    frequency agg already handles), never a suffix-array sort of
    *    the concatenated corpus;
    *  - duplicate marking is ONE count window partitioned by
    *    md5(gram) — the shuffle carries a fixed 32-char key instead of
    *    the w-token gram body (the q153 trick), and map-side nothing
    *    else: no join back, no second pass over the corpus;
    *  - span merging is the classic gaps-and-islands pass partitioned
    *    by doc — the second and last shuffle, sized by the MARKED
    *    windows only (natural text marks a few percent).
    * Determinism: every value is an exact integer; md5 keying is
    * engine-shared, so the DuckDB oracle replays bit-for-bit.
    */
  /** Stride-1 w-token windows of every doc: (doc, n_toks, pos, __gk)
    * with __gk = md5(gram) — shared by dupSpans / dupSpansCut.
    */
  private def windowExplode(docs: DataFrame, textCol: String,
                            keyCol: String, w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val tk = toks(col(textCol))
    // candidate generation as ONE kernel pass per row (DupWindowKeys):
    // the Column spelling — md5(concat_ws(' ', slice(tk, pos+1, w)))
    // per position via transform/sequence — is an interpreted HOF
    // chain and dominated q156/q160; the kernel emits byte-identical
    // (pos, md5) structs in a tight loop.
    val keys = org.apache.spark.sql.GraftBridge.column(
      graft.functions.DupWindowKeys(
        org.apache.spark.sql.GraftBridge.expression(tk), w))
    docs
      .select(col(keyCol).as("doc"), size(tk).cast("long").as("n_toks"),
        explode(keys).as("g"))
      .select(col("doc"), col("n_toks"),
        col("g.pos").as("pos"), col("g.gk").as("__gk"))
  }

  /** Sorted marked positions -> merged spans, one kernel pass inside
    * the per-doc aggregation (MergeSpans). r5 ran the gaps-and-islands
    * merge as two per-doc window frames + TWO more groupBy exchanges;
    * the positions of one doc are doc-length-bounded (the same bound
    * the dupSpansCut rebuild join already carries), so collecting them
    * into the aggregation buffer is the standard bounded-row pattern,
    * not a hub-sized collect.
    */
  private def mergedSpans(w: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MergeSpans(
        org.apache.spark.sql.GraftBridge.expression(
          sort_array(collect_list(col("pos")))), w))

  def dupSpans(docs: DataFrame, textCol: String, keyCol: String,
               w: Int): DataFrame = {
    val ex = windowExplode(docs, textCol, keyCol, w)
    val marked = ex
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("__gk"))))
      .where(col("__c") > 1)
    marked
      .groupBy(col("doc"))
      .agg(mergedSpans(w).as("__spans"), max(col("n_toks")).as("n_toks"))
      .select(col("doc"),
        size(col("__spans")).cast("long").as("n_spans"),
        aggregate(col("__spans"), lit(0L),
          (acc, s) => acc + (s("en") - s("st")).cast("long")).as("dup_tokens"),
        col("n_toks"))
  }

  /** The CUT half of substring dedup: every duplicated w-token window
    * keeps its globally-first occurrence (min (doc, pos) per distinct
    * window — a total order, so the survivor set is unique under any
    * partitioning) and all other occurrences mark their token range
    * for removal; marked ranges merge into maximal cut spans per doc,
    * and the cleaned document is rebuilt from the kept segments.
    *
    * Output per doc: (doc, n_toks, cut_tokens, kept_tokens,
    * clean_md5) — clean_md5 hashes the kept tokens space-joined in
    * the normalized token space (the actual cleaned body; hashed so
    * the relational output stays narrow).
    *
    * Same two-shuffle shape as dupSpans with keep-first decided by a
    * row_number over the SAME md5-keyed window pass (rn > 1 ⇒
    * duplicated AND not the canonical occurrence); the rebuild is
    * per-row array slicing between the sorted cut spans — no extra
    * corpus pass.
    */
  def dupSpansCut(docs: DataFrame, textCol: String, keyCol: String,
                  w: Int): DataFrame = {
    val ex = windowExplode(docs, textCol, keyCol, w)
    val rn = row_number().over(Window.partitionBy(col("__gk"))
      .orderBy(col("doc").asc, col("pos").asc))
    val cut = ex.withColumn("__rn", rn).where(col("__rn") > 1)
    // gaps-and-islands merge inside ONE per-doc aggregation (see
    // mergedSpans): replaces r5's two window frames + two groupBy
    // exchanges; the kernel emits spans already in ascending order
    val spans = cut
      .groupBy(col("doc"))
      .agg(mergedSpans(w).as("__spans"))
    val tk = toks(col(textCol))
    val withSpans = docs
      .select(col(keyCol).as("doc"), tk.as("__tk"))
      .join(spans, Seq("doc"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<st:int,en:int>>")))
    val starts = concat(array(lit(0)), transform(col("__spans"), s => s("en")))
    val ends = concat(transform(col("__spans"), s => s("st")),
      array(size(col("__tk"))))
    val kept = flatten(zip_with(starts, ends,
      (a, b) => slice(col("__tk"), a + 1, greatest(b - a, lit(0)))))
    withSpans
      .withColumn("__kept", kept)
      .select(col("doc"),
        size(col("__tk")).cast("long").as("n_toks"),
        (size(col("__tk")) - size(col("__kept"))).cast("long").as("cut_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        md5(concat_ws(" ", col("__kept"))).as("clean_md5"))
  }

  /** Cross-snapshot content novelty: for every doc of the NEW crawl,
    * how many of its distinct word n-gram shingles never appear in the
    * OLD crawl — the content-granular companion to the key-level
    * snapshotDiff (q147), and the statistic that prices an incremental
    * crawl for training ("how much genuinely new text did we fetch").
    *
    * Shape: the old side reduces to its distinct shingle set (one
    * map-side-combinable distinct — at 100 TB this is the crawl's
    * shingle dictionary, hash-partitioned, never collected), the new
    * side left-joins on the shingle string and counts misses per doc.
    * Clones of old pages score novel=0; rewritten pages score exactly
    * their changed windows.
    */
  def shingleNovelty(oldDocs: DataFrame, newDocs: DataFrame,
                     textCol: String, keyCol: String, n: Int): DataFrame = {
    val newSh = newDocs.select(col(keyCol).as("doc"),
      explode(TextOps.wordShingles(col(textCol), n)).as("sh"))
    val oldSh = oldDocs
      .select(explode(TextOps.wordShingles(col(textCol), n)).as("sh"))
      .distinct()
      .withColumn("__seen", lit(1))
    newSh.join(oldSh, Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("novel"))
  }

  /** Sequence packing — the concat-then-chop layout of LM pretraining:
    * documents concatenate in a deterministic global order and the
    * token stream chops into fixed `ctx`-token training sequences.
    * Output per non-empty doc: its exact global token offset and the
    * first/last sequence ids it lands in (a doc spans `n_seqs`
    * sequences; boundary-crossing docs are the attention-masking /
    * loss-weighting cases a packing manifest exists to expose).
    *
    * The global order is (md5(key), key) — engine-shared, replayable,
    * growth-stable. The prefix sum is computed WITHOUT a global sort:
    * the first two md5 hex chars bucket the order's leading component
    * (256 buckets, windows run in parallel per bucket), and bucket
    * offsets come from one 256-row aggregation broadcast back — the
    * same shape as Frontier.schedule. Token offsets use integer DIV,
    * exact at any corpus size (a double division would lose exactness
    * past 2^53 tokens — real at 100 TB).
    */
  def packSequences(docs: DataFrame, textCol: String, keyCol: String,
                    ctx: Int): DataFrame = {
    require(ctx >= 1, s"ctx $ctx")
    val base = docs.select(col(keyCol).as("doc"),
      md5(col(keyCol).cast("string")).as("__h"),
      size(toks(col(textCol))).cast("long").as("n_toks"))
      .where(col("n_toks") > 0)
      .withColumn("__b", substring(col("__h"), 1, 2))
    val inBucket = Window.partitionBy(col("__b"))
      .orderBy(col("__h").asc, col("doc").asc)
    val withLocal = base.withColumn("__local",
      coalesce(sum(col("n_toks"))
        .over(inBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val bucketTotals = base.groupBy(col("__b"))
      .agg(sum(col("n_toks")).as("__bt"))
    val wB = Window.orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("__off", coalesce(sum(col("__bt")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    withLocal.join(broadcast(offsets), "__b")
      .withColumn("start_off", col("__off") + col("__local"))
      .withColumn("seq_first", expr(s"start_off DIV $ctx"))
      .withColumn("seq_last", expr(s"(start_off + n_toks - 1) DIV $ctx"))
      .select(col("doc"), col("n_toks"), col("start_off"),
        col("seq_first"), col("seq_last"),
        (col("seq_last") - col("seq_first") + 1L).as("n_seqs"))
  }

  /** Vocabulary assignment + corpus re-encode — the "tokenize the
    * corpus" step after vocabulary design (q154 picks the size, this
    * applies it): token ids are the (freq desc, token asc) ranks of
    * the top `vocabSize` tokens (a total order ⇒ the id table is
    * unique and replayable), and every document re-encodes against it
    * with out-of-vocabulary tokens counted. Output per doc:
    * (doc, n_toks, n_oov, id_sum) — id_sum is the exact BIGINT
    * checksum of the encoded id sequence (order-independent, so one
    * hash agg suffices; a production encoder would write the id
    * arrays themselves, same plan shape).
    *
    * Shape: one corpus explode feeding (a) the distinct-token
    * frequency agg, pruned by the exact two-phase top-k
    * ([[topByGlobalOrder]]) so the id-ranking window runs on a
    * <= 256*vocabSize survivor set rather than the full vocabulary
    * (r5 ranked the whole distinct-token table in one task), and
    * (b) the re-encode, a broadcast join of the id table back onto
    * the exploded tokens + one groupBy(doc). The corpus is scanned
    * once.
    */
  def vocabEncode(docs: DataFrame, textCol: String, keyCol: String,
                  vocabSize: Int): DataFrame = {
    val tokd = docs.select(col(keyCol).as("doc"),
      explode(toks(col(textCol))).as("token"))
    val freqs = tokd.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    // two-phase exact top-k before the id-ranking window: r5 ran the
    // window over the FULL distinct-token table in a single task (the
    // advisor's 100 TB bottleneck); topByGlobalOrder prunes to a
    // <= 256*vocabSize survivor set with identical ranks
    val vocab = topByGlobalOrder(freqs, vocabSize)
      .withColumn("id", row_number().over(globalTokenOrder).cast("long"))
      .where(col("id") <= vocabSize)
      .select(col("token"), col("id"))
    tokd.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("id"), lit(0L))).as("id_sum"))
  }

  /** Distribution drift between two corpus snapshots as the
    * Population Stability Index over pre-bucketed rows: per bucket
    *   psi_term = (p − q)·ln(p/q),  Σ psi_term = PSI
    * with Laplace-smoothed shares p = (n_old + ½)/(t_old + ½·B) (B =
    * observed buckets) so empty buckets stay finite. The crawl
    * monitor: PSI over quality/length/lang buckets is the standard
    * "did this crawl change under us" alarm (<0.1 stable, >0.25
    * investigate).
    *
    * Both inputs are (bucket) rows; counts are exact BIGINTs from two
    * hash aggs + one full-outer equi-join, and the single double
    * expression is one fixed tree the oracle mirrors. The totals ride
    * a one-row scalar broadcast (the q136/q148 class).
    */
  def psiDrift(oldB: DataFrame, newB: DataFrame): DataFrame = {
    val o = oldB.groupBy(col("bucket")).agg(count(lit(1)).as("n_old"))
    val n = newB.groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    val joined = o.join(n, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      // EAGER checkpoint: joined feeds BOTH the totals aggregate and
      // the final psi projection — unmaterialized, the caller's whole
      // upstream (q178: TWO corpus scans through the quality-score
      // kernel + both bucket aggregations) is executed twice. The
      // table is one row per observed bucket — trivially small.
      .localCheckpoint()
    val tots = joined.agg(sum(col("n_old")).as("t_old"),
      sum(col("n_new")).as("t_new"), count(lit(1)).as("nb"))
    val p = (col("n_old").cast("double") + lit(0.5)) /
      (col("t_old").cast("double") + lit(0.5) * col("nb").cast("double"))
    val q = (col("n_new").cast("double") + lit(0.5)) /
      (col("t_new").cast("double") + lit(0.5) * col("nb").cast("double"))
    joined.crossJoin(broadcast(tots))
      .select(col("bucket"), col("n_old"), col("n_new"),
        TextOps.floor6((p - q) * log(p / q)).as("psi_term"))
  }

  /** Exact nearest-rank quantiles per group: the value at sorted
    * position ceil(q·n) (1-based). Rank selection over one window —
    * deterministic (unlike interpolating percentile implementations,
    * which differ between engines) and exact at any scale. `qs` maps
    * output column name -> q in (0, 1].
    */
  def rankQuantiles(df: DataFrame, valCol: String, groupCol: String,
                    qs: Seq[(String, Double)]): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valCol).asc)
    val ranked = df.select(col(groupCol), col(valCol))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy(col(groupCol))).cast("long"))
    val aggs = max(col("__n")).as("n_rows") +:
      qs.map { case (name, q) =>
        max(when(col("__rn") ===
          ceil(lit(q) * col("__n").cast("double")).cast("long"),
          col(valCol))).as(name)
      }
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }
}
