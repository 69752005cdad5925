package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SparkTestSession

/** BPE merge training (q158): the distributed trainer must reproduce a
  * scalar reference implementation exactly — same merges, same order,
  * same counts — and one literal replace on the delimited symbol
  * string must equal greedy left-to-right merging on hostile symbol
  * runs.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Scalar reference trainer over a word-frequency map. */
  private def referenceTrain(words: Map[String, Long],
                             merges: Int): Seq[(Int, String, String, Long)] = {
    var syms: Map[List[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toList } {
        case (_, f) => f }(_ + _)
    (1 to merges).map { it =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((s, f) <- syms; Seq(a, b) <- s.sliding(2) if s.length >= 2)
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      val ((pa, pb), c) = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head
      syms = syms.toSeq
        .map { case (s, f) => (Bpe.mergeOnce(s, pa, pb), f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      (it, pa, pb, c)
    }
  }

  test("pair-exhausted corpus truncates the merge table instead of throwing") {
    // every word is a single character: no adjacent pair ever exists,
    // so training must emit zero merges (the r5 crossJoin-with-empty
    // behavior) rather than crash on the empty argmax
    val docs = Seq("a b c", "a b", "c").toDF("text")
    val out = Bpe.train(docs, "text", merges = 3).collect()
    assert(out.isEmpty)
  }

  test("one delimited replace equals greedy merge on hostile runs") {
    // runs with shared anchors, odd/even counts, multi-char symbols
    val cases = Seq(
      List("a", "b", "a", "b"),
      List("a", "b", "a", "b", "a", "b"),
      List("a", "b", "a", "b", "a", "b", "a", "b"),
      List("a", "a", "a"),
      List.fill(5)("a"), List.fill(6)("a"), List.fill(7)("a"),
      List("b", "a", "b"),
      List("xa", "b", "a", "b"),
      List("a", "b"), List("a"), Nil)
    for (syms <- cases; (pa, pb) <- Seq(("a", "b"), ("a", "a"))) {
      val merged = Bpe.symString(syms)
        .replace(Bpe.symString(Seq(pa, pb)), Bpe.symString(Seq(pa + pb)))
      assert(merged === Bpe.symString(Bpe.mergeOnce(syms, pa, pb)), s"syms=$syms pair=($pa,$pb)")
    }
  }

  test("trainer reproduces the scalar reference on a crafted corpus") {
    val docs = Seq(
      "the theme then these the the",
      "there other ethere the",
      "zz zz zzz theory").toDF("text")
    val words = docs.as[String].collect()
      .flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = referenceTrain(words, 8)
    val got = Bpe.train(docs, "text", merges = 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === want)
  }

  test("training is partitioning-invariant on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      Bpe.train(df, "text", merges = 4)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val a = run(docs.repartition(1))
    val b = run(docs.repartition(11))
    assert(a === b && a.size === 4)
    // merged symbols grow: later merges may pair earlier merge outputs
    assert(a.map { case (_, pa, pb, _) => pa + pb }.distinct.size === 4)
  }
}
