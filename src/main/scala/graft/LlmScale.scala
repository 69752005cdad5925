package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, Corpus, Dedup, Relevance}

/** Scaling probe for the LLM-data similarity operators: runs the
  * dedup / near-dup / ANN pipelines over deterministic synthetic
  * corpora at a geometric ladder of sizes and reports wall time per
  * (op, N), so the growth exponent is visible — the similarity joins
  * must grow linearithmically (bucketed candidate generation), not
  * quadratically.
  *
  * The corpora mirror web text: Zipf-skewed vocabulary (quadratic
  * index mapping pushes mass to few tokens, stressing the prefix
  * filter's rare-first order), 5% planted near-clones (real dup mass),
  * and hash-derived unit embeddings with planted exact dups. LSH
  * parameters follow the documented scale policy — rowsPerBand ~
  * log2 N for the hyperplane bands — so the probe exercises the knob a
  * 10^12-row deployment would turn, not a fixed test-scale setting.
  *
  * Usage: runMain graft.LlmScale [cores] [sizesCsv]
  */
object LlmScale extends Serializable {

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic documents: 60 Zipf-skewed words from an 8k vocab;
    * every 20th doc is a near-clone of its predecessor (two words
    * appended), so each size has a planted ~5% near-dup mass.
    */
  private def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    def body(id: Long): String = {
      val sb = new StringBuilder(64 * 7)
      var w = 0
      while (w < 60) {
        val h = mix64(id * 131 + w)
        val u = ((h >>> 11).toDouble / (1L << 53).toDouble) // [0,1)
        val idx = (u * u * 8192).toInt // Zipf-ish: mass at low indices
        if (w > 0) sb.append(' ')
        sb.append('w').append(idx)
        w += 1
      }
      sb.toString
    }
    spark.range(n).toDF("id").repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { iter =>
        iter.map { r =>
          val id = r.getLong(0)
          val base =
            if (id % 40 == 39) body(id - 19)            // exact clone
            else if (id % 20 == 19) body(id - 1) + " qq zz" // near-clone
            else body(id)
          Row(id, base)
        }
      }
  }

  /** Deterministic embeddings: dim-64 hash-uniform vectors in [-1,1];
    * every 10th row clones its predecessor (exact cosine-1 dups).
    */
  private def synthEmb(spark: SparkSession, n: Long): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    def vecOf(id: Long): Array[Double] =
      Array.tabulate(64) { d =>
        (mix64(id * 977 + d) >>> 11).toDouble / (1L << 52).toDouble - 1.0
      }
    spark.range(n).toDF("id").repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { iter =>
        iter.map { r =>
          val id = r.getLong(0)
          Row(id, vecOf(if (id % 10 == 9) id - 1 else id))
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 32
    val sizes = (if (args.length > 1) args(1) else "20000,80000,320000")
      .split(',').map(_.trim.toLong).toSeq
    val spark = Bench.session(cores)

    // min-of-2: the first sample of an op at a new size absorbs JIT
    // compilation and codegen of that op's plan shape; the min is the
    // steady-state cost the growth exponent should be read from.
    def time(f: => Long): (Double, Long) = {
      var best = Double.MaxValue
      var rows = 0L
      var i = 0
      while (i < 2) {
        val t0 = System.nanoTime()
        rows = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        i += 1
      }
      (best, rows)
    }

    val json = new StringBuilder("{\"metric\":\"llm_scale_sec\"")
    println("| op | N | seconds | result rows |")
    for (n <- sizes) {
      val docs = synthDocs(spark, n).persist()
      val emb = synthEmb(spark, n).persist()
      docs.count(); emb.count() // materialize OUTSIDE the op timings
      val planes = 4 * math.max(8, 63 - java.lang.Long.numberOfLeadingZeros(n) + 1).toInt
      val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
      val queries = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
      val ops = Seq[(String, () => Long)](
        "q34_exact_dedup" -> (() =>
          Dedup.exactDupGroups(docs, "text", "doc_id").count()),
        "q36_minhash_neardups" -> (() =>
          Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.8).count()),
        "q35_jaccard_pairs" -> (() =>
          Dedup.jaccardPairsExact(docs, "text", "doc_id",
            shingleN = 3, threshold = 0.8).count()),
        "q37_simhash_pairs" -> (() =>
          Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 3).count()),
        "q41_embed_neardups" -> (() =>
          Dedup.embeddingNearDups(emb, "vec", "vec_id", threshold = 0.9999,
            planes = planes, bands = 4).count()),
        "q88_ann_ivf_topk" -> (() =>
          Ann.ivfTopK(queries, "q_vec", "q_id", emb, "vec", "vec_id",
            k = 5, nCells = nCells, nProbe = 8, trainIters = 1).count()),
        "q140_contamination" -> (() =>
          Corpus.contamination(docs, docs.filter(col("doc_id") % 29 === 0),
            "text", "doc_id", n = 8).count()),
        "q143_paragraph_dedup" -> (() =>
          Corpus.paragraphDedup(docs, "text", "doc_id", chunkWords = 8).count()),
        "q139_bigram_lm" -> (() =>
          Relevance.bigramLmScore(docs, "text", "doc_id").count()),
        "q150_pq_codes" -> (() =>
          Ann.pqCodes(emb, "vec", "vec_id", m = 4, k = 8).count()),
        "q156_dup_spans" -> (() =>
          Corpus.dupSpans(docs, "text", "doc_id", w = 12).count()),
        "q160_dup_spans_cut" -> (() =>
          Corpus.dupSpansCut(docs, "text", "doc_id", w = 12)
            .where(col("cut_tokens") >= 0L).count()),
        "q158_bpe_train" -> (() =>
          graft.operators.Bpe.train(docs, "text", merges = 4).count()),
        "q161_shingle_novelty" -> (() =>
          Corpus.shingleNovelty(docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "text", "doc_id", n = 8).count()))
      for ((name, f) <- ops) {
        val (secs, rows) = time(f())
        println(f"| $name | $n | $secs%.2f | $rows |")
        json.append(s""","${name}_$n":$secs""")
      }
      docs.unpersist(); emb.unpersist()
    }
    json.append("}")
    println(json.toString)
    spark.stop()
  }
}
