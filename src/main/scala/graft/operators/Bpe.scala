package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
  * tokenizer-design step of a training-data pipeline, distributed the
  * classic way: the corpus is scanned ONCE to build the word-frequency
  * table, and every merge iteration runs on that table alone (vocab
  * scale, orders of magnitude below corpus scale — the reason BPE
  * training is tractable at 100 TB).
  *
  * Each iteration: count adjacent symbol pairs weighted by word
  * frequency (one map-side-combinable aggregation), pick the most
  * frequent pair (ties by pair ascending — a total order, so training
  * is deterministic and engine-replayable), and apply the merge.
  *
  * Merge application is ONE string `replace` on a symbol string in
  * which every symbol sits in its own delimiters ("|a||b||c|"): the
  * pattern "|a||b|" starts only at a symbol's opening '|' and matches
  * whole symbols only, and consecutive occurrences share no character,
  * so the left-to-right non-overlapping scan of a literal `replace`
  * is exactly greedy left-to-right BPE merging (spec-gated against a
  * scalar reference implementation, runs of equal symbols included).
  *
  * No driver-side data loop: per iteration the driver pulls ONE
  * control row (the argmax pair — vocab-dimension metadata, like the
  * ANN centroid pulls) and pushes it back as literals; the word table
  * itself never leaves the executors. `localCheckpoint` truncates the
  * per-iteration lineage growth (the q25/q120 pattern).
  */
object Bpe {

  private def toks(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Train `merges` BPE merges over the corpus; returns one row per
    * merge: (merge_rank, pa, pb, c) — the merged pair and its weighted
    * count at selection time, in training order.
    */
  def train(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 64, s"merges $merges out of range")
    val words = docs
      .select(explode(toks(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    var sym = words
      .withColumn("sym", concat(lit("|"), concat_ws("||", chars), lit("|")))
      .select(col("freq"), col("sym"))
      .localCheckpoint(false)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (it <- 1 to merges) {
      val arr = filter(split(col("sym"), "\\|"), s => length(s) > 0)
      val pairsArr = when(size(arr) < 2,
        array().cast("array<struct<pa:string,pb:string>>"))
        .otherwise(transform(sequence(lit(1), size(arr) - 1),
          j => struct(element_at(arr, j).as("pa"),
            element_at(arr, j + 1).as("pb"))))
      val counts = sym
        .select(col("freq"), explode(pairsArr).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("c"))
      // the argmax is ONE control row (the merge decision) — collect
      // it instead of re-attaching via crossJoin(broadcast(limit 1)):
      // the replace below then runs on literals, and the output rows
      // are driver literals instead of six retained agg+top-1 plans
      // that r5 re-executed from their checkpoints when the result
      // was consumed. TakeOrdered ships one row per partition; this
      // is vocab-dimension control data, not a data-sized collect.
      val bestRows = counts
        .orderBy(col("c").desc, col("pa").asc, col("pb").asc)
        .limit(1).collect()
      if (bestRows.isEmpty) {
        // no adjacent pair anywhere (single-symbol words / merges
        // exhausted): mirror the r5 crossJoin-with-empty behavior —
        // this merge emits no row and the symbol table goes empty,
        // so the remaining iterations are no-ops
        sym = sym.where(lit(false)).localCheckpoint(false)
      } else {
        val bestRow = bestRows(0)
        val (pa, pb, c) =
          (bestRow.getString(0), bestRow.getString(1), bestRow.getLong(2))
        picked += ((it, pa, pb, c))
        val applied = sym
          .withColumn("sym", call_function("replace", col("sym"),
            lit(symString(Seq(pa, pb))), lit(symString(Seq(pa + pb)))))
          .select(col("freq"), col("sym"))
        sym = applied.localCheckpoint(false)
      }
    }
    docs.sparkSession.createDataFrame(picked.toSeq)
      .toDF("merge_rank", "pa", "pb", "c")
  }

  /** The symbol string of a symbol sequence: "|a||b||c|". A merge of
    * (pa, pb) replaces symString(Seq(pa, pb)) by symString(Seq(pa + pb)).
    */
  private[operators] def symString(syms: Seq[String]): String =
    syms.map(x => s"|$x|").mkString

  /** Greedy left-to-right merge of one pair into a symbol sequence —
    * the scalar reference the literal replace must match (specs).
    */
  private[operators] def mergeOnce(syms: List[String], pa: String,
                                   pb: String): List[String] = syms match {
    case a :: b :: rest if a == pa && b == pb => (pa + pb) :: mergeOnce(rest, pa, pb)
    case a :: rest => a :: mergeOnce(rest, pa, pb)
    case Nil => Nil
  }

  /** The identical training unrolled as DuckDB SQL: `srcSql` yields
    * (text); emits one row per merge (merge_rank, pa, pb, c).
    */
  def trainOracleSql(srcSql: String, merges: Int): String = {
    val stages = (1 to merges).map { i =>
      s"""p$i AS (
         |  SELECT pa, pb, CAST(sum(freq) AS BIGINT) AS c FROM (
         |    SELECT freq, arr[CAST(j AS INT)] AS pa, arr[CAST(j AS INT) + 1] AS pb
         |    FROM (SELECT freq,
         |            list_filter(string_split(sym, '|'), x -> x <> '') AS arr
         |          FROM s${i - 1}),
         |      LATERAL unnest(range(1, len(arr))) t(j))
         |  GROUP BY pa, pb),
         |b$i AS (SELECT pa, pb, c FROM p$i ORDER BY c DESC, pa ASC, pb ASC LIMIT 1),
         |s$i AS (
         |  SELECT freq, replace(sym,
         |      '|' || pa || '||' || pb || '|', '|' || pa || pb || '|') AS sym
         |  FROM s${i - 1}, b$i)""".stripMargin
    }
    val union = (1 to merges)
      .map(i => s"SELECT $i AS merge_rank, pa, pb, c FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH w AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(
       |      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |      t -> len(t) > 0)) AS w
       |    FROM ($srcSql))
       |  GROUP BY w),
       |s0 AS (
       |  SELECT freq, '|' || array_to_string(
       |    list_transform(range(1, len(w) + 1),
       |      i -> substr(w, CAST(i AS INT), 1)), '||') || '|' AS sym
       |  FROM w),
       |${stages.mkString(",\n")}
       |$union""".stripMargin
  }
}
