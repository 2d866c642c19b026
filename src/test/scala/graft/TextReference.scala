package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational references for the text kernels: MinHash signatures as a
  * shingle explode + one min-aggregate, exact Jaccard verification as a
  * two-sided shingle join, and the compression stats as a projection of
  * the [[graft.functions.DeflateStats]] kernel. OperatorsSpec and
  * TextPipelineSpec compare the kernel forms
  * ([[graft.operators.MinHashLSH.signaturesWideKernel]],
  * [[graft.functions.JaccardShingles]],
  * [[graft.operators.TextAnalysis.compressionPass]]) against them. */
object TextReference {

  /** MinHash signatures, wide form: all numHashes minimums computed as
    * parallel aggregates in ONE hash aggregate over the shingle table —
    * map-side partial min means the shuffle carries numHashes digests per
    * document instead of |shingles| × numHashes rows. Output
    * (id, mh0..mh{n-1}). */
  def signaturesWide(sh: DataFrame, idCol: String, numHashes: Int = 8): DataFrame = {
    val mins = (0 until numHashes).map { i =>
      min(md5(concat(lit(s"$i|"), col("shingle")).cast("binary"))).as(s"mh$i")
    }
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Exact Jaccard verification of candidate pairs against the shingle sets:
    * |A∩B| via a two-sided shingle join, sizes via per-doc counts. */
  def verifyJaccard(pairs: DataFrame, sh: DataFrame, idCol: String, minJaccard: Double): DataFrame = {
    val sa = sh.select(col(idCol).as("doc_a"), col("shingle"))
    val sb = sh.select(col(idCol).as("doc_b"), col("shingle"))
    val common = pairs
      .join(sa, "doc_a")
      .join(sb, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    common
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn(
        "jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** Per-document compression-ratio quality signal: the fraction a raw
    * DEFLATE pass shrinks the UTF-8 bytes to ([[graft.functions
    * .DeflateStats]] — repetitive/boilerplate pages compress far below
    * normal prose, the classic cheap repetitiveness heuristic). Output:
    * `(id, n_bytes, n_deflated, compression_ratio)`; empty docs report
    * ratio 1.0. [[graft.operators.TextAnalysis.compressionPass]] is the
    * predicate form the jobs run. */
  def compressionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      level: Int = 6): DataFrame = {
    val s = graft.functions.DeflateStats(col(textCol), level)
    df.select(
      col(idCol),
      s.getItem(0).as("n_bytes"),
      s.getItem(1).as("n_deflated"),
      when(s.getItem(0) === 0L, lit(1.0))
        .otherwise(s.getItem(1).cast("double") / s.getItem(0))
        .as("compression_ratio"))
  }
}
