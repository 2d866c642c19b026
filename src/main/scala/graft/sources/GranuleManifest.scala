package graft.sources

/** Driver-side manifest logic (SURVEY P11, §2.9): sanitation of a
  * (mission, path) manifest and day-completeness gating. Granules are read
  * by [[graft.sources.netcdf.NetCDFGranules.readGranules]].
  */
object GranuleManifest {

  /** Manifest sanitation (SURVEY P11): drop nulls/blank entries, keep known
    * missions only, warn-count unknown keys via the returned tuple. */
  def sanitize(entries: Seq[(String, String)]): (Seq[(String, String)], Seq[(String, String)]) = {
    val known = Set("oco2", "oco3", "oco3_sif")
    val (good, bad) = entries
      .filter { case (_, p) => p != null && p.nonEmpty }
      .partition { case (m, _) => known(m) }
    (good, bad)
  }

  /** Completeness gating (SURVEY §2.9 "late/missing upstream data",
    * `tools/deploy/run.py:217-333`): a day is ready to process only when
    * every expected mission is either PRESENT or inside a known gap window
    * for that mission. Days with unexplained absences are held. Driver-side
    * manifest logic, as in the reference.
    *
    * @param present   (day, mission) pairs that have arrived
    * @param expected  missions expected every day
    * @param knownGaps mission → inclusive (from, to) day ranges with no data
    * @return (ready days, held days with their missing missions)
    */
  def gateCompleteness(
      present: Seq[(String, String)],
      expected: Set[String],
      knownGaps: Map[String, Seq[(String, String)]]): (Seq[String], Map[String, Set[String]]) = {
    val byDay = present.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def inGap(mission: String, day: String): Boolean =
      knownGaps.getOrElse(mission, Nil).exists { case (from, to) => day >= from && day <= to }
    val held = byDay.flatMap { case (day, missions) =>
      val missing = expected.diff(missions).filterNot(m => inGap(m, day))
      if (missing.nonEmpty) Some(day -> missing) else None
    }
    (byDay.keys.toSeq.filterNot(held.contains).sorted, held)
  }
}
