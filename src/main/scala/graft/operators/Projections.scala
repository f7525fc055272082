package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Row-level projections & filters (SURVEY.md §2.2, P1-P9). */
object Projections {

  /** P1 — document→mention flatten (`scripts/preprocess_medmentions
    * .py:57-67`): explode a mentions array of (start, end) offsets and
    * slice contexts out of the document text. `mentions` must be an
    * array of structs with `start`/`end` int fields; extra struct fields
    * pass through under `m`.
    */
  def flattenDocument(df: DataFrame, text: Column, mentions: Column): DataFrame =
    df.withColumn("m", explode(mentions))
      .withColumn("left_context", substring(text, lit(1), col("m.start")))
      .withColumn("mention", text.substr(col("m.start") + 1, col("m.end") - col("m.start")))
      .withColumn("right_context", text.substr(col("m.end") + 1, length(text)))

  /** P2 — context windowing (`meercat/utils.py:78-104`): given left /
    * mention / right token arrays and a window budget, keep the mention
    * (+2 marker slots +2 special slots, as the reference's accounting)
    * and roughly center the window, redistributing slack from a short
    * side to the other. Returns (left_kept, right_kept) columns.
    */
  def contextWindow(leftToks: Column, mentionToks: Column, rightToks: Column,
                    maxLen: Int): (Column, Column) = {
    val contextSize = lit(maxLen) - (size(mentionToks) + 2) - 2
    val half = floor(contextSize / 2).cast("int")
    // slack redistribution, exactly the reference's two if-steps
    val leftSize0 = half
    val rightSize0 = half
    val rightSize1 = when(size(leftToks) < leftSize0, rightSize0 + (leftSize0 - size(leftToks)))
      .otherwise(rightSize0)
    val leftSize1 = when(size(leftToks) < leftSize0, size(leftToks)).otherwise(leftSize0)
    val leftSize2 = when(size(rightToks) < rightSize1, leftSize1 + (rightSize1 - size(rightToks)))
      .otherwise(leftSize1)
    val rightSize2 = when(size(rightToks) < rightSize1, size(rightToks)).otherwise(rightSize1)
    val leftKept = when(leftSize2 <= 0, array().cast("array<string>"))
      .otherwise(slice(leftToks, -greatest(leftSize2, lit(1)), greatest(leftSize2, lit(1))))
    val rightKept = when(rightSize2 <= 0, array().cast("array<string>"))
      .otherwise(slice(rightToks, lit(1), greatest(rightSize2, lit(1))))
    (leftKept, rightKept)
  }

  /** P5 — LaTeX-escape + context ellipsis pretty-printing
    * (`meercat/error_analysis.py:14-39`): escape specials, keep the last
    * / first `n` tokens of left/right context.
    */
  def latexEscape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      "\\\\", "\\\\textbackslash "),
      "([&%$#_{}])", "\\\\$1"),
      "~", "\\\\textasciitilde ")

  def ellipsisLeft(c: Column, n: Int): Column = {
    // slice with a negative start beyond the array length returns EMPTY
    // in Spark (Python's [-n:] keeps everything) — clamp the start so
    // short contexts keep all their tokens, like the reference
    val toks = split(c, " ")
    concat_ws(" ", slice(toks, -least(size(toks), lit(n)), lit(n)))
  }

  def ellipsisRight(c: Column, n: Int): Column =
    concat_ws(" ", slice(split(c, " "), 1, n))

  /** P8 — round-robin shard filter (`meercat/utils.py:187-191`); in
    * Spark this is partitioning, kept for contract parity.
    */
  def shardFilter(df: DataFrame, idx: Column, worldSize: Int, rank: Int): DataFrame =
    df.filter(idx % worldSize === rank)

  /** P9 — chunked streaming shuffle (`meercat/utils.py:154-161`): local
    * shuffle within fixed-size chunks of each partition — bounded-memory
    * approximate shuffle, deterministic under `seed`.
    */
  def chunkedShuffle(df: DataFrame, chunkSize: Int = 32768, seed: Long = 42L): DataFrame = {
    implicit val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val rnd = new Random(seed)
      it.grouped(chunkSize).flatMap(chunk => rnd.shuffle(chunk))
    }
  }
}
