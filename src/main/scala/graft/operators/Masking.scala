package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Footprint masking (SURVEY M1-M4).
  *
  * The reference masks gridded products with sounding-footprint polygons in
  * two phases: a coarse bbox prefilter selecting candidate pixels
  * (`OCO3SamProcessor.py:253-266`) then an exact pixel∩polygon test with
  * first-hit-wins annotation (`:279-295`, `OCO3SamGlobalProcessor.py:330-410`).
  *
  * Relationally the mask is a spatial theta-join: pixels × footprints with a
  * containment predicate, aggregated per pixel. In sparse long form the mask
  * IS the join result — unmasked pixels simply produce no rows (the
  * reference's `var.where(mask)` nulling, M3, becomes an inner join). The
  * bbox phase is the join predicate itself here (axis-aligned boxes);
  * polygon-exact masking composes `PointInPolygon` (graft.functions) after
  * this prefilter.
  *
  * First-writer-wins (M4) is order-dependent in the reference (thread
  * arrival order); we make it deterministic with min(footprint id) —
  * SURVEY §7.4 hard part 3.
  */
object Masking {

  /** Pixels × axis-aligned footprint boxes containment join.
    * `footprints` needs (fid, cx, cy, halfX, halfY). Returns one row per
    * (pixel, footprint) hit. */
  private def pixelBoxHits(pixels: DataFrame, footprints: DataFrame): DataFrame =
    pixels
      .crossJoin(broadcast(footprints))
      .filter(
        abs(col("x") - col("cx")) <= col("halfX") &&
          abs(col("y") - col("cy")) <= col("halfY"))

  /** Per-pixel mask + annotation: any-hit mask (M2), hit count, and
    * deterministic first-writer-wins footprint id (M4). Inner-join
    * semantics: pixels with no hits are absent (M3 in sparse long form). */
  def maskAnnotate(pixels: DataFrame, footprints: DataFrame): DataFrame =
    pixelBoxHits(pixels, footprints)
      .groupBy(col("x_idx"), col("y_idx"))
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("fid")).as("first_fid"))
}
