package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Target catalog model + target-id parsing/classification (SURVEY J1/M5).
  *
  * The reference's catalog (`targets.json`, 559 entries) maps
  * `target_id → {name, bbox, centroid}` and is consulted as a broadcast
  * lookup (`OCO3SamProcessor.py:70-78`). Id classification
  * (`sam_extract/targets/TargetInfo.py:128-154`) prefix-matches the id
  * family and extracts a numeric id from trailing digits, with lookup tables
  * for text ids. Here both are pure built-in-function expressions — no UDF,
  * fully codegen'd, and the catalog stays broadcast-sized by construction.
  */
object TargetCatalog {

  final case class Target(
      target_id: String,
      name: String,
      min_lon: Double,
      min_lat: Double,
      max_lon: Double,
      max_lat: Double)

  def toDF(spark: SparkSession, targets: Seq[Target]): DataFrame = {
    import spark.implicits._
    targets.toDF()
  }

  /** Parse the reference's own catalog file format (`targets.json`:
    * `target_id → {bbox{min/max lon/lat}, centroid_wkt, id, name}`,
    * `main.py:458-480`) into the catalog DataFrame — a reference user's
    * existing file works unchanged. Driver-side parse: the catalog is
    * broadcast-sized by construction (559 entries in production). */
  def fromJson(spark: SparkSession, path: String): DataFrame = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootN  = mapper.readTree(text)
    val targets = scala.collection.mutable.ArrayBuffer.empty[Target]
    val it = rootN.properties().iterator()
    while (it.hasNext) {
      val e    = it.next()
      val v    = e.getValue
      val bbox = v.get("bbox")
      targets += Target(
        target_id = Option(v.get("id")).map(_.asText).getOrElse(e.getKey),
        name      = Option(v.get("name")).map(_.asText).getOrElse(""),
        min_lon   = bbox.get("min_lon").asDouble,
        min_lat   = bbox.get("min_lat").asDouble,
        max_lon   = bbox.get("max_lon").asDouble,
        max_lat   = bbox.get("max_lat").asDouble)
    }
    toDF(spark, targets.toSeq)
  }

  /** Prefix-family classification (`TargetInfo.py:149-154`): first matching
    * prefix of {fossil, ecostress, sif, volcano, tccon}, else other, as the
    * numeric type codes stored per-pixel in the global product —
    * the reference's TARGET_TYPES values (`TargetInfo.py:19-27`:
    * fossil=1, ecostress=2, sif=3, volcano=4, tccon=5, other=6, fill=-1;
    * int8 per `OCO3SamGlobalProcessor.py:353-410`). */
  def idTypeCode(id: Column): Column =
    when(id.startsWith("fossil"), 1)
      .when(id.startsWith("ecostress"), 2)
      .when(id.startsWith("sif"), 3)
      .when(id.startsWith("volcano"), 4)
      .when(id.startsWith("tccon"), 5)
      .otherwise(6)
      .cast("byte")

  /** Trailing-digit numeric id (`TargetInfo.py:139-146`); null when the id
    * has no trailing digits (text ids resolve via `resolveNumericId`). */
  private def extractNumericId(id: Column): Column = {
    val digits = regexp_extract(id, "(\\d+)$", 1)
    when(digits === "", lit(null)).otherwise(digits.cast("int"))
  }

  /** Text-id lookup tables (`TargetInfo.py:29-123`): ECOSTRESS flux-site and
    * SIF site ids have no numeric suffix; the reference maps the portion
    * after the FIRST underscore through these tables (default 0 when absent
    * or unknown — OTHER_ID_NAN). Shipped as literal map expressions: 90
    * entries stay in the plan, fully codegen'd, no join. */
  val EcostressIds: Map[String, Int] = Map(
    "afln" -> 1, "ar_slu" -> 2, "ar_vir" -> 3, "au_asm" -> 4, "au_cum" -> 5,
    "au_das" -> 6, "au_dry" -> 7, "au_how" -> 8, "au_lit" -> 9, "au_stp" -> 10,
    "au_tum" -> 11, "au_wom" -> 12, "au_ync" -> 13, "bdog" -> 14, "be_lon" -> 15,
    "be_vie" -> 16, "br_cmt" -> 17, "br_no" -> 18, "ch_dav" -> 19, "ch_fru" -> 20,
    "ch_lae" -> 21, "cr_fsc" -> 22, "cr_srnp_emss" -> 23, "cz_bk1" -> 24,
    "de_rus" -> 25, "de_tha" -> 26, "fr_fon" -> 27, "il_yat" -> 28, "it_cp2" -> 29,
    "it_tor" -> 30, "ke_mak" -> 31, "kr_gck" -> 32, "ne_waf" -> 33, "nz_bfm" -> 34,
    "nz_kop" -> 35, "nz_oxf" -> 36, "nz_sco" -> 37, "sleg" -> 38,
    "ssh_czo_cal" -> 39, "ssh_czo_shale" -> 40, "us_arm" -> 41, "us_bar" -> 42,
    "us_bi1" -> 43, "us_bsg" -> 44, "us_ced" -> 45, "us_cf1" -> 46, "us_cs1" -> 47,
    "us_cz1" -> 48, "us_cz2" -> 49, "us_hn1" -> 50, "us_hn2" -> 51, "us_kfs" -> 52,
    "us_kon" -> 53, "us_los" -> 54, "us_me2" -> 55, "us_men" -> 56, "us_mms" -> 57,
    "us_mrf" -> 58, "us_ro4" -> 59, "us_rr" -> 60, "us_scc" -> 61, "us_scs" -> 62,
    "us_ses" -> 63, "us_slt" -> 64, "us_sp" -> 65, "us_syv" -> 66, "us_tx2" -> 67,
    "us_tx5" -> 68, "us_tx6" -> 69, "us_tx9" -> 70, "us_var" -> 71, "us_vcm" -> 72,
    "us_wjs" -> 73, "us_wkg" -> 74, "us_wpp" -> 75, "us_wwt" -> 76)

  val SifIds: Map[String, Int] = Map(
    "atto" -> 1, "atto_2" -> 2, "hrv" -> 3, "jro" -> 4, "laselva" -> 5,
    "mead" -> 6, "mpj" -> 7, "mzo" -> 8, "niwot" -> 9, "oko" -> 10,
    "santarita" -> 11, "shq" -> 12, "umb" -> 13, "uva" -> 14)

  /** Full numeric-id resolution (`TargetInfo.py:128-146` extract_id):
    * ECOSTRESS/SIF ids look the post-underscore key up in their tables
    * (0 when no underscore or unknown); 'other' ids take trailing digits
    * (0 when none); numeric families take trailing digits (null when
    * absent — the reference would raise there). */
  def resolveNumericId(id: Column): Column = {
    val us  = instr(id, "_")
    val key = id.substr(us + lit(1), length(id))
    val fromEco = when(us === 0, lit(0))
      .otherwise(coalesce(element_at(typedLit(EcostressIds), key), lit(0)))
    val fromSif = when(us === 0, lit(0))
      .otherwise(coalesce(element_at(typedLit(SifIds), key), lit(0)))
    when(id.startsWith("ecostress"), fromEco)
      .when(id.startsWith("sif"), fromSif)
      .when(
        !id.startsWith("fossil") && !id.startsWith("volcano") && !id.startsWith("tccon"),
        coalesce(extractNumericId(id), lit(0)))
      .otherwise(extractNumericId(id))
  }

  /** True where all four bbox bounds are known: a row without one
    * contributes no grid cell (P7). */
  def hasBbox: Column =
    Seq("min_lon", "max_lon", "min_lat", "max_lat").map(col(_).isNotNull).reduce(_ && _)

  /** Broadcast catalog association (J1): inner join dropping regions whose
    * target is missing from the catalog or has a null bbox bound (P7). */
  def associate(regions: DataFrame, catalog: DataFrame, idCol: String = "target_id"): DataFrame =
    regions.join(broadcast(catalog.filter(hasBbox)), idCol)
}
