package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Similarity

/** Embedding similarity coverage on the `embeddings` table: exact
  * brute-force cosine top-k and cluster-bucketed (IVF-style) near-duplicate
  * pairs. All vector math is double-precision sequential folds, exactly
  * mirrored by the oracle's list_reduce/list_transform.
  */
object EmbeddingQueries {

  type Q = (SparkSession, String) => DataFrame

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).withColumn("vec", col("embedding").cast("array<double>"))

  /** The oracle's dot-product fold:
    * list_reduce(list_transform(generate_series(1, len(a)), i -> a[i]*b[i]), +). */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i]), (x,y) -> x+y)"

  /** Pairwise cosine with per-vector precomputed norms na/nb (identical
    * doubles to the inline form; the oracle precomputes them in a CTE just
    * like the Spark side computes them once per row). */
  private def cosSql(a: String, b: String, na: String, nb: String) =
    s"${dotSql(a, b)} / ($na * $nb)"

  /** Brute-force exact top-5 cosine neighbors for query vectors vec_id<10. */
  private val q29: Q = (s, dir) => {
    val e       = emb(s, dir)
    val queries = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val corpus  = e.select(col("vec_id").as("cid"), col("vec").as("cvec"))
    Similarity
      .bruteForceTopK(queries, corpus, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  private val q29Sql =
    s"""WITH e AS (
      |  SELECT vec_id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)),
      |q AS (SELECT vec_id AS qid, vec AS qvec, nrm AS qn FROM e WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, vec AS cvec, nrm AS cn FROM e),
      |d AS (
      |  SELECT qid, cid, ${cosSql("qvec", "cvec", "qn", "cn")} AS cos
      |  FROM c CROSS JOIN q WHERE qid <> cid),
      |r AS (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |  FROM d)
      |SELECT qid, cid, rank, cos FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** Embedding near-dup pairs within label buckets (label = coarse
    * quantizer), cosine ≥ 0.35 (the corpus has no true near-dups; the threshold exercises the pipeline). */
  private val q30: Q = (s, dir) => {
    val e = emb(s, dir).select(col("label").as("bucket"), col("vec_id").as("id"), col("vec"))
    Similarity
      .nearDupPairsBucketed(e, minCos = 0.35)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val q30Sql =
    s"""WITH e AS (
      |  SELECT label, vec_id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm
      |  FROM (SELECT label, vec_id, embedding::DOUBLE[] AS vec FROM embeddings)),
      |p AS (
      |  SELECT l.label AS bucket, l.vec_id AS id_a, r.vec_id AS id_b,
      |    ${cosSql("l.vec", "r.vec", "l.nrm", "r.nrm")} AS cos
      |  FROM e l JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id)
      |SELECT bucket, id_a, id_b, cos FROM p WHERE cos >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared LSH hyperplanes (seeded) — the identical constants are embedded
    * in the oracle SQL below, so both engines compute identical buckets. */
  private val planes = Similarity.hyperplanes(nPlanes = 8, dim = 64, seed = 42L)

  private def planesSqlValues: String =
    planes.zipWithIndex
      .map { case (p, i) => s"($i, [${p.map(_.toString).mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n      |    ")

  /** LSH-bucketed approximate top-3: candidates restricted to the query's
    * sign-LSH bucket (the scale path vs q29's brute force). */
  private val q38: Q = (s, dir) => {
    val e       = emb(s, dir)
    val queries = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val corpus  = e.select(col("vec_id").as("cid"), col("vec").as("cvec"))
    Similarity
      .lshTopK(queries, corpus, planes, k = 3)
      .orderBy(col("qid"), col("rank"))
  }

  private val q38Sql =
    s"""WITH planes AS (SELECT * FROM (VALUES
      |    $planesSqlValues) p(pid, pvec)),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |b AS (
      |  SELECT vec_id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm,
      |    string_agg(CASE WHEN ${dotSql("vec", "pvec")} >= 0 THEN '1' ELSE '0' END,
      |               '' ORDER BY pid) AS bucket
      |  FROM e CROSS JOIN planes
      |  GROUP BY vec_id, vec, sqrt(${dotSql("vec", "vec")})),
      |j AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    ${dotSql("q.vec", "c.vec")} / (q.nrm * c.nrm) AS cos
      |  FROM (SELECT * FROM b WHERE vec_id < 10) q
      |    JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      |r AS (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |  FROM j)
      |SELECT qid, cid, rank, cos FROM r WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  /** Trained IVF coarse quantizer, oracle-gated: one Lloyd iteration with
    * deterministic init (first k vectors by id). One iteration keeps the
    * oracle non-recursive; multi-iteration convergence and cross-partition
    * determinism are spec-gated (OperatorsSpec). The decimal-exact centroid
    * sums are what make the hash portable: double partial aggregation would
    * drift by ulps between engines. */
  private val q43: Q = (s, dir) => {
    import s.implicits._
    val cents = graft.operators.KMeans.fit(emb(s, dir), "vec", "vec_id", k = 4, iters = 1)
    cents.zipWithIndex.toSeq
      .flatMap { case (c, ci) => c.zipWithIndex.map { case (v, di) => (ci, di, v) } }
      .toDF("cluster", "dim", "centroid")
      // report at 10 dp: per-element double->decimal casts round half-way
      // points differently across engines (oracle-portability law #1),
      // leaving ~1-ulp noise on a handful of means
      .withColumn("centroid", round(col("centroid"), 10))
      .orderBy(col("cluster"), col("dim"))
  }

  private def sqL2Sql(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), j -> ($a[j] - $b[j]) * ($a[j] - $b[j])), (x,y) -> x+y)"

  private val q43Sql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |init AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
      |dist AS (
      |  SELECT v.vec_id, i.c, ${sqL2Sql("v.vec", "i.cvec")} AS d
      |  FROM v CROSS JOIN init i),
      |assign AS (
      |  SELECT vec_id, c FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM dist)
      |  WHERE rn = 1),
      |upd AS (
      |  SELECT a.c, t.j - 1 AS dim,
      |    CAST(SUM(CAST(v.vec[t.j] AS DECIMAL(24,14))) AS DOUBLE) / COUNT(*) AS m
      |  FROM assign a JOIN v USING (vec_id)
      |    CROSS JOIN UNNEST(generate_series(1, len(v.vec))) AS t(j)
      |  GROUP BY a.c, t.j),
      |dims AS (SELECT i.c, t.j - 1 AS dim, i.cvec[t.j] AS init_v
      |  FROM init i CROSS JOIN UNNEST(generate_series(1, len(i.cvec))) AS t(j))
      |SELECT CAST(d.c AS INT) AS cluster, CAST(d.dim AS INT) AS dim,
      |  ROUND(COALESCE(u.m, d.init_v), 10) AS centroid
      |FROM dims d LEFT JOIN upd u ON u.c = d.c AND u.dim = d.dim
      |ORDER BY cluster, dim""".stripMargin

  /** Product-quantization codes (Jégou et al. 2011) at m=4 subspaces ×
    * k=4 centroids, one Lloyd iteration per subspace — the trained-PQ
    * encode gated integer-exact: per-subspace training mirrors the q43
    * chain on list slices, and the emitted code is a SECOND assignment
    * against the updated centroids (decimal-exact means keep the centroid
    * doubles bit-identical across engines, so the argmin is too). ADC
    * search over these codes is spec-gated (exactness-degradation law in
    * SimilaritySpec). */
  private val q83: Q = (s, dir) => {
    val v     = emb(s, dir)
    val books = Similarity.pqFit(v, "vec", "vec_id", m = 4, k = 4, iters = 1)
    Similarity
      .pqEncode(v, "vec", books)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** One subspace's train-then-encode chain on the [lo:hi] slice of the
    * `pqsrc` CTE (vec_id, vec: DOUBLE[]) — callers define pqsrc as the
    * raw embeddings (q83) or the IVF residuals (q88). */
  private def pqSubspaceSql(s: Int, dsub: Int, k: Int): String = {
    val lo = s * dsub + 1
    val hi = (s + 1) * dsub
    s"""v$s AS (SELECT vec_id, vec[$lo:$hi] AS vec FROM pqsrc),
      |init$s AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v$s ORDER BY vec_id LIMIT $k)),
      |a$s AS (
      |  SELECT vec_id, c FROM (
      |    SELECT v.vec_id, i.c,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |                         ORDER BY ${sqL2Sql("v.vec", "i.cvec")}, i.c) AS rn
      |    FROM v$s v CROSS JOIN init$s i)
      |  WHERE rn = 1),
      |upd$s AS (
      |  SELECT a.c, t.j AS j,
      |    CAST(SUM(CAST(v.vec[t.j] AS DECIMAL(24,14))) AS DOUBLE) / COUNT(*) AS m
      |  FROM a$s a JOIN v$s v USING (vec_id)
      |    CROSS JOIN UNNEST(generate_series(1, len(v.vec))) AS t(j)
      |  GROUP BY a.c, t.j),
      |cent$s AS (
      |  SELECT i.c, list(COALESCE(u.m, i.cvec[t.j]) ORDER BY t.j) AS cvec
      |  FROM init$s i
      |    CROSS JOIN UNNEST(generate_series(1, $dsub)) AS t(j)
      |    LEFT JOIN upd$s u ON u.c = i.c AND u.j = t.j
      |  GROUP BY i.c),
      |code$s AS (
      |  SELECT vec_id, $s AS subspace, c AS code FROM (
      |    SELECT v.vec_id, ce.c,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |                         ORDER BY ${sqL2Sql("v.vec", "ce.cvec")}, ce.c) AS rn
      |    FROM v$s v CROSS JOIN cent$s ce)
      |  WHERE rn = 1)""".stripMargin
  }

  private val q83Sql = {
    val m    = 4
    val dsub = 16
    val chain = (0 until m).map(pqSubspaceSql(_, dsub, k = 4)).mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM code$s").mkString("\nUNION ALL ")
    s"""WITH pqsrc AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |$chain
      |SELECT vec_id, CAST(subspace AS INTEGER) AS subspace, CAST(code AS INTEGER) AS code
      |FROM ($union)
      |ORDER BY vec_id, subspace""".stripMargin
  }

  /** SemDeDup at the oracle-able configuration: assignment against the
    * deterministic init exemplars (`iters = 0` — exact input vectors, so
    * every distance/cosine is a bit-identical sequential fold in both
    * engines; the trained-quantizer path is covered by q43 + KMeans
    * specs). Discrete output (id, cluster, keep) — no float columns. */
  private val q62: Q = (s, dir) =>
    Similarity
      .semDedup(emb(s, dir), "vec_id", "vec", k = 4, minCos = 0.35, iters = 0)
      .orderBy(col("id"))

  private val q62Sql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |init AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
      |dist AS (
      |  SELECT v.vec_id, i.c, ${sqL2Sql("v.vec", "i.cvec")} AS d
      |  FROM v CROSS JOIN init i),
      |assign AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM dist)
      |  WHERE rn = 1),
      |e AS (
      |  SELECT a.cluster, v.vec_id, v.vec, sqrt(${dotSql("v.vec", "v.vec")}) AS nrm
      |  FROM v JOIN assign a USING (vec_id)),
      |drops AS (
      |  SELECT DISTINCT r.vec_id AS id
      |  FROM e l JOIN e r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      |  WHERE ${cosSql("l.vec", "r.vec", "l.nrm", "r.nrm")} >= 0.35)
      |SELECT e.vec_id AS id, CAST(e.cluster AS INT) AS cluster,
      |  (d.id IS NULL) AS keep
      |FROM e LEFT JOIN drops d ON e.vec_id = d.id
      |ORDER BY id""".stripMargin

  /** Capped SemDeDup (q62's scale contract for cluster-dense corpora —
    * r10 verdict #3): the canonical side of each cluster thins to an
    * expected 2 members by the q79 md5 coin, bending the within-cluster
    * pair quadratic to ~n·m while both engines mirror the sampling
    * bit-exactly. Same discrete output shape as q62. */
  private val q99: Q = (s, dir) =>
    Similarity
      .semDedup(emb(s, dir), "vec_id", "vec", k = 4, minCos = 0.35, iters = 0,
        maxPerBucket = Some(2))
      .orderBy(col("id"))

  private val q99Sql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |init AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
      |dist AS (
      |  SELECT v.vec_id, i.c, ${sqL2Sql("v.vec", "i.cvec")} AS d
      |  FROM v CROSS JOIN init i),
      |assign AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM dist)
      |  WHERE rn = 1),
      |e AS (
      |  SELECT a.cluster, v.vec_id, v.vec, sqrt(${dotSql("v.vec", "v.vec")}) AS nrm
      |  FROM v JOIN assign a USING (vec_id)),
      |bn AS (SELECT cluster, count(*) AS n FROM e GROUP BY 1),
      |lc AS (
      |  SELECT e.* FROM e JOIN bn USING (cluster)
      |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % bn.n < 2),
      |drops AS (
      |  SELECT DISTINCT r.vec_id AS id
      |  FROM lc l JOIN e r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      |  WHERE ${cosSql("l.vec", "r.vec", "l.nrm", "r.nrm")} >= 0.35)
      |SELECT e.vec_id AS id, CAST(e.cluster AS INT) AS cluster,
      |  (d.id IS NULL) AS keep
      |FROM e LEFT JOIN drops d ON e.vec_id = d.id
      |ORDER BY id""".stripMargin

  /** Corpus-wide kNN graph (k=3) over the shared sign-LSH buckets — both
    * join sides are the full corpus (the scale path where q38's broadcast
    * query batch doesn't apply). */
  private val q78: Q = (s, dir) =>
    Similarity
      .knnGraphLsh(emb(s, dir), "vec_id", "vec", planes, k = 3)
      .orderBy(col("qid"), col("rank"))

  private val q78Sql =
    s"""WITH planes AS (SELECT * FROM (VALUES
      |    $planesSqlValues) p(pid, pvec)),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |b AS (
      |  SELECT vec_id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm,
      |    string_agg(CASE WHEN ${dotSql("vec", "pvec")} >= 0 THEN '1' ELSE '0' END,
      |               '' ORDER BY pid) AS bucket
      |  FROM e CROSS JOIN planes
      |  GROUP BY vec_id, vec, sqrt(${dotSql("vec", "vec")})),
      |j AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    ${dotSql("q.vec", "c.vec")} / (q.nrm * c.nrm) AS cos
      |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      |r AS (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |  FROM j)
      |SELECT qid, cid, rank, cos FROM r WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  /** The capped kNN graph (q78's scale contract for cluster-dense corpora):
    * candidate side of each bucket thins to an expected 4 members by the
    * md5 coin — the deterministic sampling both engines mirror exactly. */
  private val q79: Q = (s, dir) =>
    Similarity
      .knnGraphLsh(emb(s, dir), "vec_id", "vec", planes, k = 3,
        maxCandidatesPerBucket = Some(4))
      .orderBy(col("qid"), col("rank"))

  private val q79Sql =
    s"""WITH planes AS (SELECT * FROM (VALUES
      |    $planesSqlValues) p(pid, pvec)),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |b AS (
      |  SELECT vec_id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm,
      |    string_agg(CASE WHEN ${dotSql("vec", "pvec")} >= 0 THEN '1' ELSE '0' END,
      |               '' ORDER BY pid) AS bucket
      |  FROM e CROSS JOIN planes
      |  GROUP BY vec_id, vec, sqrt(${dotSql("vec", "vec")})),
      |bn AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
      |cand AS (
      |  SELECT b.* FROM b JOIN bn USING (bucket)
      |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % bn.n < 4),
      |j AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    ${dotSql("q.vec", "c.vec")} / (q.nrm * c.nrm) AS cos
      |  FROM b q JOIN cand c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      |r AS (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |  FROM j)
      |SELECT qid, cid, rank, cos FROM r WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  /** Cluster-balanced diversity subsample at the oracle-able exemplar
    * configuration (`iters = 0` — centroids are the first k input vectors,
    * so assignment distances are bit-identical sequential folds in both
    * engines). The md5-coin selection order (coin asc, id asc — the TopK
    * (score desc, cid asc) contract over score = -coin) is mirrored
    * exactly: 13 hex chars = 52 bits, double-exact. Discrete output
    * (cluster, id, pick) — no float columns. */
  private val q100: Q = (s, dir) =>
    Similarity
      .clusterBalancedSample(emb(s, dir), "vec_id", "vec", k = 4, quota = 3, iters = 0)
      .orderBy(col("cluster"), col("pick"))

  private val q100Sql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |init AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
      |dist AS (
      |  SELECT v.vec_id, i.c, ${sqL2Sql("v.vec", "i.cvec")} AS d
      |  FROM v CROSS JOIN init i),
      |assign AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM dist)
      |  WHERE rn = 1),
      |r AS (
      |  SELECT cluster, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY cluster
      |      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 13))::BIGINT, vec_id) AS pick
      |  FROM assign)
      |SELECT CAST(cluster AS INT) AS cluster, vec_id AS id, CAST(pick AS INT) AS pick
      |FROM r WHERE pick <= 3
      |ORDER BY cluster, pick""".stripMargin

  /** IVF multi-probe top-3 (nprobe = 2 of 4 cells): the production ANN
    * read path at its oracle-able configuration — `iters = 0` exemplar
    * centroids (exact input vectors, every distance a bit-identical
    * sequential fold), corpus assignment as in q62, query cells by the
    * expanded-algebra distance both engines compute identically. */
  private val q80: Q = (s, dir) => {
    val e = emb(s, dir)
    val cents = graft.operators.KMeans.fit(e, "vec", "vec_id", k = 4, iters = 0)
    Similarity
      .ivfTopK(
        e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("vec").as("qvec")),
        e.select(col("vec_id").as("cid"), col("vec").as("cvec")),
        cents, nprobe = 2, k = 3)
      .orderBy(col("qid"), col("rank"))
  }

  private val q80Sql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |init AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
      |dist AS (
      |  SELECT v.vec_id, i.c, ${sqL2Sql("v.vec", "i.cvec")} AS d
      |  FROM v CROSS JOIN init i),
      |assign AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM dist)
      |  WHERE rn = 1),
      |corp AS (
      |  SELECT a.cluster, v.vec_id AS cid, v.vec AS cvec,
      |    sqrt(${dotSql("v.vec", "v.vec")}) AS cn
      |  FROM v JOIN assign a USING (vec_id)),
      |qp AS (
      |  SELECT q.vec_id AS qid, q.vec AS qvec, i.c AS cent,
      |    ${dotSql("q.vec", "q.vec")} - 2 * ${dotSql("q.vec", "i.cvec")}
      |      + ${dotSql("i.cvec", "i.cvec")} AS d
      |  FROM (SELECT * FROM v WHERE vec_id < 10) q CROSS JOIN init i),
      |probes AS (
      |  SELECT qid, qvec, cent, sqrt(${dotSql("qvec", "qvec")}) AS qn FROM (
      |    SELECT qid, qvec, cent,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cent) AS rn
      |    FROM qp)
      |  WHERE rn <= 2),
      |j AS (
      |  SELECT p.qid, c.cid, ${dotSql("p.qvec", "c.cvec")} / (p.qn * c.cn) AS cos
      |  FROM probes p JOIN corp c ON p.cent = c.cluster AND p.qid <> c.cid),
      |r AS (
      |  SELECT qid, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
      |  FROM j)
      |SELECT qid, cid, rank, cos FROM r WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  /** IVF-PQ index build (Jégou et al. 2011 §III) at the oracle-able
    * configuration: coarse quantizer = `iters 0` exemplar centroids (the
    * q62/q80 assignment chain, exact input vectors), residual = an exact
    * per-element IEEE subtraction, then the q83 per-subspace PQ chain
    * runs on the RESIDUALS (m=4 × k=4, one Lloyd iteration,
    * decimal-exact means). Output is all-integer: cell + residual codes
    * per subspace. */
  private val q88: Q = (s, dir) => {
    val e     = emb(s, dir)
    val cents = graft.operators.KMeans.fit(e, "vec", "vec_id", k = 4, iters = 0)
    val books = Similarity.ivfPqFit(e, "vec", "vec_id", cents, m = 4, k = 4, iters = 1)
    Similarity
      .ivfPqEncode(e.select(col("vec_id"), col("vec")), "vec", cents, books)
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .orderBy(col("vec_id"), col("subspace"))
  }

  private val q88Sql = {
    val m    = 4
    val dsub = 16
    val chain = (0 until m).map(pqSubspaceSql(_, dsub, k = 4)).mkString(",\n")
    val union = (0 until m).map(s => s"SELECT * FROM code$s").mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |cinit AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, vec AS cvec
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
      |cdist AS (
      |  SELECT v.vec_id, i.c, ${sqL2Sql("v.vec", "i.cvec")} AS d
      |  FROM v CROSS JOIN cinit i),
      |cassign AS (
      |  SELECT vec_id, c AS cell FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM cdist)
      |  WHERE rn = 1),
      |pqsrc AS (
      |  SELECT v.vec_id,
      |    list_transform(generate_series(1, len(v.vec)), j -> v.vec[j] - i.cvec[j]) AS vec
      |  FROM v JOIN cassign a USING (vec_id) JOIN cinit i ON i.c = a.cell),
      |$chain
      |SELECT u.vec_id, CAST(a.cell AS INTEGER) AS cell,
      |  CAST(u.subspace AS INTEGER) AS subspace, CAST(u.code AS INTEGER) AS code
      |FROM ($union) u JOIN cassign a USING (vec_id)
      |ORDER BY vec_id, subspace""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q88_ivfpq_encode"     -> q88,
    "q29_ann_topk"       -> q29,
    "q30_embed_neardup"  -> q30,
    "q38_lsh_topk"       -> q38,
    "q43_kmeans_quantize" -> q43,
    "q62_semdedup"        -> q62,
    "q99_semdedup_capped" -> q99,
    "q78_knn_graph"       -> q78,
    "q79_knn_graph_capped" -> q79,
    "q80_ivf_topk"         -> q80,
    "q83_pq_encode"        -> q83,
    "q100_cluster_sample"  -> q100
  )

  val oracles: Map[String, String] = Map(
    "q88_ivfpq_encode"     -> q88Sql,
    "q83_pq_encode"        -> q83Sql,
    "q29_ann_topk"       -> q29Sql,
    "q30_embed_neardup"  -> q30Sql,
    "q38_lsh_topk"       -> q38Sql,
    "q43_kmeans_quantize" -> q43Sql,
    "q62_semdedup"        -> q62Sql,
    "q99_semdedup_capped" -> q99Sql,
    "q78_knn_graph"       -> q78Sql,
    "q79_knn_graph_capped" -> q79Sql,
    "q80_ivf_topk"         -> q80Sql,
    "q100_cluster_sample"  -> q100Sql
  )
}
