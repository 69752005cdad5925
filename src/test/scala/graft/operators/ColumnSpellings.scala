package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The plain Column spellings that the text kernels
  * ([[graft.functions.TextFingerprint]], [[graft.functions.WordShingles]],
  * [[graft.functions.WordChunks]]) replaced. WordShinglesSpec checks
  * each kernel against its spelling, value for value.
  */
object ColumnSpellings {

  /** [[TextOps.fingerprint]] as an aggregate fold over tokens. */
  def fingerprint(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    aggregate(
      toks,
      lit(0L),
      (acc, t) =>
        (acc * 31L + conv(substring(md5(t), 1, 5), 16, 10).cast("long")) % lit(2147483648L)
    )
  }

  /** [[TextOps.wordShingles]] as a transform over window starts. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val m = size(toks)
    when(m < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), m - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Corpus' word chunks as a transform over chunk starts. */
  def wordChunks(text: Column, chunkWords: Int): Column = {
    val tk = split(lower(trim(text)), "\\s+")
    val m = when(length(trim(text)) === 0, lit(0)).otherwise(size(tk))
    when(m === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(m.cast("double") / chunkWords).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * chunkWords + 1, lit(chunkWords)))))
  }
}
