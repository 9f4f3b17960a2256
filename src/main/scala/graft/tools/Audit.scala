package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

/** Shared instrument helpers for [[Probe]], [[AnnScaleAudit]] and
  * [[StallDiag]] — one definition so an instrument fix lands
  * everywhere at once. */
object Audit {

  /** Locale-pinned seconds formatting: the default-locale
    * `"%.3f".format` renders `0,123` under comma-decimal locales and
    * corrupts the emitted JSON artifacts. */
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Force FULL evaluation of every output column (a bare count() on
    * a pure projection prunes all columns and never runs the kernels
    * being measured — the first cut of this instrument timed the
    * multimodal decodes at 0.6 s for 500k images that way): hash every
    * column into one aggregate, return the row count.
    *
    * The xxhash64-over-struct column is the POINT, not overhead — do
    * not "optimize" it away in a future instrument: it is the term
    * that forces Catalyst to keep every output expression in the
    * measured plan. Its own cost is one codegen'd hash per row
    * (~ns-scale, orders below any kernel being probed) and is paid
    * IDENTICALLY at every scale point, so it cancels out of the
    * between-point ratios the probes exist to measure. */
  def force(df: DataFrame): Long =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("__h")))
      .head().getLong(0)
}
