package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expected outputs computed without the engine's cells or JTS: plain grid
  * arithmetic on each footprint's (xmin, ymin, xmax, ymax). */
object Reference {

  /** Order-independent digest of a (doc_id, tile_id) set. */
  final case class Digest(rows: Long, sum32: Long, xor: Long)

  def digest(pairs: DataFrame, a: String = "doc_id", b: String = "tile_id"): Digest = {
    val h = xxhash64(col(a), col(b))
    val r = pairs.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Tiles of the 24 × 18 grid of 15° × 10° tiles (`SynthCorpus.tileGrid`)
    * that each closed footprint touches. A footprint with xmin > xmax
    * crosses the antimeridian and is split into [xmin, 180] and
    * [-180, xmax]. Coordinates are multiples of 1/16, so the arithmetic is
    * exact. Returns (doc_id, tile_id). */
  def tilePairs(docs: DataFrame): DataFrame = {
    // closed [lo, hi] in grid units touches tiles ceil(lo)-1 .. floor(hi)
    def span(lo: Column, hi: Column, n: Int): Column =
      sequence(greatest(lit(0L), ceil(lo) - 1), least(lit(n - 1L), floor(hi)))
    val u0 = (col("xmin") + 180.0) / 15.0
    val u1 = (col("xmax") + 180.0) / 15.0
    val xs = when(col("xmin") <= col("xmax"), span(u0, u1, 24))
      .otherwise(array_union(span(u0, lit(24.0), 24), span(lit(0.0), u1, 24)))
    val ys = span((col("ymin") + 90.0) / 10.0, (col("ymax") + 90.0) / 10.0, 18)
    docs.select(col("doc_id"), explode(xs).as("i"), ys.as("js"))
      .select(col("doc_id"), col("i"), explode(col("js")).as("j"))
      .select(col("doc_id"), concat(lit("T"), lpad(col("i").cast("string"), 2, "0"),
        lpad(col("j").cast("string"), 2, "0")).as("tile_id"))
  }

  /** Does the closed footprint box touch the closed AOI box (an AOI never
    * crosses the antimeridian)? */
  def touches(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
              a: (Double, Double, Double, Double)): Boolean = {
    val (ax0, ay0, ax1, ay1) = a
    def xOverlap(lo: Double, hi: Double) = lo <= ax1 && hi >= ax0
    ymin <= ay1 && ymax >= ay0 &&
      (if (xmin <= xmax) xOverlap(xmin, xmax) else xOverlap(xmin, 180.0) || xOverlap(-180.0, xmax))
  }
}
