package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SparkTestSession

/** The r6 WordShingles kernel vs the r5 Column spelling it replaced:
  * element-for-element (values AND order — array_distinct keeps first
  * occurrence) equality on hostile inputs, every n in 1..9.
  */
class WordShinglesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val hostile: Seq[String] = Seq(
    "",                       // empty: split yields [""]
    " ",                      // spaces only: trim -> ""
    "   ",
    "\t",                     // non-space whitespace survives SQL trim
    "a",
    "a b",
    "a  b",                   // run of delimiters
    " a b ",                  // leading/trailing spaces (trimmed)
    "\ta b\n",                // leading tab -> leading empty token
    "a b\t",                  // trailing tab -> trailing empty token
    "A B a b A B",            // case fold + duplicate shingles
    "x y x y x y x y",        // heavy dedup, order matters
    "one two three four five six seven eight nine ten",
    "word " * 40 + "end",     // long repeated run
    "tab\tsep\ttokens and  double  spaces",
    "ünï-códe tøkens ünï-códe tøkens",
    "0 1 2 3 4 5 6 7 8 9 0 1 2 3 4",
    "punct, is; kept? as! part-of tokens.")

  test("kernel shingles == Column-spelling shingles (values and order)") {
    val df = hostile.toDF("text")
    for (n <- 1 to 9) {
      val both = df.select(
        TextOps.wordShingles(col("text"), n).as("k"),
        ColumnSpellings.wordShingles(col("text"), n).as("c"))
        .collect()
      both.zip(hostile).foreach { case (r, src) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text=${src.take(40)}")
      }
    }
  }

  test("kernel chunks == Column-spelling chunks (values and order)") {
    val df = hostile.toDF("text")
    for (w <- 1 to 9) {
      val both = df.select(
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.WordChunks(
            org.apache.spark.sql.GraftBridge.expression(col("text")), w)).as("k"),
        ColumnSpellings.wordChunks(col("text"), w).as("c"))
        .collect()
      both.zip(hostile).foreach { case (r, src) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"w=$w text=${src.take(40)}")
      }
    }
  }

  test("kernel upper-triangle pairs == nested-transform spelling") {
    val arrays: Seq[Seq[String]] = Seq(
      Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "a", "b"),             // sorted-with-dups input
      ('a' to 'z').map(_.toString),   // 26 -> 325 pairs
      Seq("", "x", "y"))              // empty-string element
    val df = arrays.map(Tuple1(_)).toDF("ts")
    val kernel = org.apache.spark.sql.GraftBridge.column(
      graft.functions.UpperTrianglePairs(
        org.apache.spark.sql.GraftBridge.expression(col("ts"))))
    val spelling = flatten(transform(col("ts"),
      (x, i) => transform(slice(col("ts"), i + 2, size(col("ts"))),
        y => struct(x.as("a"), y.as("b")))))
    df.select(kernel.as("k"), spelling.as("c")).collect().foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1))
    }
  }

  test("kernel fingerprint == aggregate-fold spelling") {
    val df = hostile.toDF("text")
    df.select(TextOps.fingerprint(col("text")).as("k"),
        ColumnSpellings.fingerprint(col("text")).as("c"))
      .collect().zip(hostile).foreach { case (r, src) =>
        assert(r.getLong(0) == r.getLong(1), s"text=${src.take(40)}")
      }
  }

  test("kernel shingles survive explode/groupBy round trip identically") {
    val df = hostile.zipWithIndex.map(_.swap).toDF("id", "text")
    val a = df.select(col("id"), explode(TextOps.wordShingles(col("text"), 3)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = df.select(col("id"),
        explode(ColumnSpellings.wordShingles(col("text"), 3)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
