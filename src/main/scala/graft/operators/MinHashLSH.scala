package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over documents.
  *
  * Pipeline: word n-gram shingles → per-seed minhash signatures → banded
  * LSH keys → bucket self-join for candidate pairs → exact Jaccard
  * verification of candidates only.
  *
  * Scale design: the only joins are (a) the band-key self-join, which
  * shuffles 32-byte digests keyed by band (near-dup buckets are tiny, so no
  * quadratic blowup outside genuinely duplicated content), and (b) the
  * candidate⋈shingle verification join, proportional to candidate count —
  * never all-pairs. This is the standard web-scale dedup shape.
  *
  * Hashing uses md5 hex strings ordered lexicographically (a uniform hash
  * with a total order is all MinHash needs), which DuckDB reproduces
  * exactly — no engine-specific hash functions.
  */
object MinHashLSH {

  /** The distinct word n-gram shingle SET of one text value, as an array
    * column (empty for texts shorter than n words). Per-row
    * dedup (first-occurrence order) instead of a post-explode
    * `.distinct()` so the dedup costs no shuffle — the shingle stream is
    * the largest intermediate in every set-similarity plan, and this
    * keeps it narrow until the one aggregate that actually needs a
    * shuffle. The grams come from the [[graft.functions.WordGrams]]
    * codegen kernel (byte-sliced from the source string), which replaced
    * an interpreted transform/slice/array_join HOF chain. */
  def shingleArray(textCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    graft.functions.WordGrams(textCol, n, distinct = true)

  /** Distinct word n-gram shingles per document (docs shorter than n words
    * produce none). One row per (id, shingle); assumes one input row per
    * id (the dedup is per-row, shuffle-free — see [[shingleArray]]). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol), explode(shingleArray(col(textCol), n)).as("shingle"))

  /** MinHash signatures, wide form `(id, mh0..mh{n-1})`: the whole
    * per-document signature (word split, shingling, numHashes md5
    * minimums) computes in one generated-code pass per document
    * (functions/TextKernels) — a pure projection with NO shingle explode
    * and NO aggregate. Bit-identical to the relational shingle-explode +
    * min-aggregate form (test-scope `TextReference.signaturesWide`); docs
    * with < n words drop, as its groupBy does. */
  def signaturesWideKernel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 8): DataFrame = {
    val sig = graft.functions.MinHashSigExpr(col(textCol), shingleLen, numHashes)
    val mh  = (0 until numHashes).map(i => col("_sig").getItem(i).as(s"mh$i"))
    // Filter on the CHEAP word-count predicate (identical to the kernel's
    // null condition), not on `_sig.isNotNull`: a deterministic-expression
    // null filter gets pushed below the projection and re-evaluates the
    // whole kernel per row (verified in the physical plan).
    df.filter(size(split(col(textCol), " ")) >= shingleLen)
      .select(col(idCol), sig.as("_sig"))
      .select(col(idCol) +: mh: _*)
  }

  /** Banded LSH keys from the wide signature form: rowsPerBand consecutive
    * hashes concatenate into one bucket key per band — pure projection, no
    * extra shuffle. */
  def bandKeys(sigWide: DataFrame, idCol: String, rowsPerBand: Int = 2, numHashes: Int = 8): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
      s"$b, concat_ws('|', ${cols.mkString(", ")})"
    }
    val stackExpr = bands.mkString(s"stack($nBands, ", ", ", ") AS (band, band_key)")
    sigWide.select(col(idCol), expr(stackExpr))
  }

  /** Candidate pairs: distinct (a < b) document pairs sharing ≥1 band key.
    * Bucket aggregation, not a self-join: one hash aggregate groups ids per
    * (band, band_key), then in-bucket pairs explode from the sorted id list
    * — the signature subtree evaluates ONCE (a self-join scans it twice)
    * and only (band_key, id) rows ever shuffle. Buckets are tiny by the
    * near-dup premise, so the pair explosion is quadratic only inside
    * genuine duplicate clusters — the standard web-scale LSH shape.
    *
    * Degenerate corpora (massive exact-duplicate clusters) make any LSH
    * bucketing quadratic in the cluster size — the self-join shape
    * included. Run [[Dedup.exactStats]]/keep-first FIRST (the standard
    * pipeline order); after exact dedup, bucket sizes are bounded by
    * genuine near-dup cluster sizes. Buckets beyond `bucketWarnThreshold`
    * trip a loud [[LshDiagnostics]] warning (an observe node on the bucket
    * aggregate — no extra pass) instead of silently going quadratic.
    *
    * `maxBucket` is the HARD form of that guard, mirroring the postings
    * family's df-cap contract: buckets above the cap are dropped from
    * candidate generation entirely (the observe warning still fires, so
    * the drop is loud), bounding worst-case work at maxBucket² per bucket
    * even on a corpus that skipped exact dedup. Drop contract: since a
    * minhash band key is a ≥128-bit digest, an oversized bucket is never
    * an accidental collision — it is a genuine duplicate cluster whose
    * members collide in EVERY band, so the dropped pairs are precisely
    * the exact-or-near-exact cluster pairs exact-dedup should have
    * removed; pairs between documents that only share SOME bands (true
    * near-dups under-cap) are unaffected. Default None preserves the
    * warn-only behavior.
    *
    * Band-sizing law (contrast with simhash): minhash band keys are
    * concatenated md5 digests, a ≥128-bit space, so ACCIDENTAL bucket
    * collisions are negligible at any corpus size — rowsPerBand tunes
    * recall (P[candidate] = 1-(1-j^rowsPerBand)^nBands), not bucket
    * occupancy. Oversized minhash buckets therefore always mean genuine
    * duplicate clusters (fix: exact dedup first), unlike simhash where
    * narrow bands themselves overflow (fix:
    * [[TextAnalysis.sizedSimHashBands]]). */
  def candidatePairs(
      bands: DataFrame,
      idCol: String,
      bucketWarnThreshold: Long = 10000L,
      maxBucket: Option[Long] = None): DataFrame = {
    val ids = array_sort(collect_list(col(idCol)))
    val buckets = bands.groupBy(col("band"), col("band_key")).agg(ids.as("ids"))
    val warnAt  = maxBucket.fold(bucketWarnThreshold)(math.min(_, bucketWarnThreshold))
    val observed = LshDiagnostics
      .observeBucketStats(buckets, size(col("ids")), warnAt, "minhash_candidate_pairs")
      .filter(size(col("ids")) > 1)
    val capped = maxBucket.fold(observed)(m => observed.filter(size(col("ids")) <= lit(m)))
    capped
      .select(explode(inBucketPairs(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** All (doc_a < doc_b) pairs from one bucket's sorted id array, as an
    * array of structs — the in-bucket pair explosion shared by every
    * bucketing strategy (minhash bands here, raw shingle postings in
    * [[SetSimilarity]]). Quadratic only in the bucket size, which each
    * caller bounds by its own contract. */
  private[operators] def inBucketPairs(ids: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(transform(
      sequence(lit(0), size(ids) - 2),
      i => transform(
        slice(ids, i + 2, size(ids)),
        b => struct(element_at(ids, i + 1).as("doc_a"), b.as("doc_b")))))

  /** Full near-dup pipeline: sign (kernel) → band → candidates → verify.
    * The full-corpus shingle table never materializes at all: signatures
    * come from the one-pass kernel, and exact-Jaccard verification is a
    * single [[graft.functions.JaccardShingles]] kernel call per candidate
    * pair. The candidate set is tiny by the near-dup premise, so it
    * broadcasts into two hash joins that pull both texts off unshuffled
    * document scans — the whole verify branch is two broadcast joins plus
    * one projection (r3 shape was a 6-stage two-sided shingle join with a
    * leaked persist). */
  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucket: Option[Long] = None): DataFrame = {
    val sig   = signaturesWideKernel(df, idCol, textCol, shingleLen, numHashes)
    val bands = bandKeys(sig, idCol, rowsPerBand, numHashes)
    val cand  = candidatePairs(bands, idCol, maxBucket = maxBucket)
    verifyJaccardKernel(df, idCol, textCol, cand, shingleLen, minJaccard)
  }

  /** Exact-Jaccard verification of a (doc_a, doc_b) candidate set via the
    * single-pass [[graft.functions.JaccardShingles]] kernel: the candidate
    * set broadcasts through two hash joins that pull both texts off
    * unshuffled document scans, then one kernel call per pair computes
    * (|A∩B|, |A|, |B|) from the raw texts. Shared by the minhash and
    * postings ([[SetSimilarity]]) candidate generators. */
  private[operators] def verifyJaccardKernel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cand: DataFrame,
      shingleLen: Int,
      minJaccard: Double): DataFrame = {
    val ta = df.select(col(idCol).as("doc_a"), col(textCol).as("text_a"))
    val tb = df.select(col(idCol).as("doc_b"), col(textCol).as("text_b"))
    val withTexts = tb.join(broadcast(ta.join(broadcast(cand), "doc_a")), "doc_b")
    val j = graft.functions.JaccardShingles(col("text_a"), col("text_b"), shingleLen)
    withTexts
      .select(col("doc_a"), col("doc_b"), j.as("_j"))
      .select(
        col("doc_a"), col("doc_b"),
        col("_j").getItem(0).as("n_common"),
        (col("_j").getItem(0).cast("double") /
          (col("_j").getItem(1) + col("_j").getItem(2) - col("_j").getItem(0))).as("jaccard"))
      .filter(col("jaccard") >= lit(minJaccard))
  }
}
