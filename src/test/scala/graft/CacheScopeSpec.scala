package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.domain.{Oco2Pipeline, Pipeline, TargetCatalog}
import graft.domain.TargetCatalog.Target
import graft.sources.SyntheticGranule
import graft.sources.SyntheticGranule.sounding

/** Pipeline caches are sized by AQE (one partition for a small batch, not
  * `initialPartitionNum`), leave the caller's session conf as it was, and
  * still release with their scope. */
class CacheScopeSpec extends SparkSpec {

  private val CoalesceKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  private def cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  private def isCached(df: DataFrame): Boolean =
    cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty

  /** The value the session holds for `key`, None when unset (`getOption`
    * reports a registered key's default instead). */
  private def explicit(key: String): Option[String] = spark.conf.getAll.get(key)

  /** Run `body` with `key` set to `value` (unset when None), restoring the
    * session's previous value afterwards. */
  private def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = explicit(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The shape `Jobs.session` gives a 4-core run: AQE starts every shuffle
    * at 32 partitions and coalesces from there. */
  private def wide[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.initialPartitionNum", Some("32"))(body)

  /** RDDs persisted by `body`, by id → partition count. */
  private def newlyPersisted(body: => Unit): Map[Int, Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.iterator
      .collect { case (id, rdd) if !before(id) => id -> rdd.getNumPartitions }.toMap
  }

  private lazy val catalog = TargetCatalog.toDF(spark, Seq(
    Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0),
    Target("fossil0002", "B", 20.0, 40.0, 22.0, 42.0)))

  /** One granule with two captures, carrying `granule_path` so sessions
    * take the per-granule hash-partitioned path. */
  private lazy val granule = SyntheticGranule.toDF(spark,
    (0 until 6).map(i => sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4,
      target = "fossil0001", xco2 = 400.0 + i)) ++
      (6 until 12).map(i => sounding(i, 41.0 + 0.1 * (i - 6), 21.0 + 0.1 * (i - 6), mode = 2,
        target = "fossil0002", xco2 = 410.0 + i)))
    .withColumn("granule_path", lit("oco3_LtCO2_20230615_B.nc"))

  test("Pipeline.process persists nothing: its sessions have one consumer") {
    wide {
      CacheScope.withScope {
        val cached = newlyPersisted {
          val cfg = Pipeline.Config(gridN = 8, method = "linear")
          assert(Pipeline.process(granule, catalog, cfg).collect().nonEmpty)
        }
        assert(cached.isEmpty, s"cached partitions: $cached")
      }
    }
  }

  test("the sessions cache of a one-granule batch materializes one partition; the product is unchanged") {
    // Oco2Pipeline still reads its sessions twice (region geometry, then
    // the region pass), so it caches them. Its regions are the Target-mode
    // capture, associated by nearest centroid.
    wide {
      val cfg = Pipeline.Config(gridN = 8, method = "linear")
      CacheScope.withScope {
        val cached = newlyPersisted {
          assert(Oco2Pipeline.process(granule, catalog, cfg).collect().nonEmpty)
        }
        // sessions is the pipeline's only cache
        assert(cached.values.toSeq === Seq(1), s"cached partitions: $cached")
      }
      CacheScope.withScope {
        val withCache    = Oco2Pipeline.process(granule, catalog, cfg)
        val withoutCache = Oco2Pipeline.process(granule, catalog, cfg.copy(persistSessions = false))
        assert(withCache.exceptAll(withoutCache).isEmpty)
        assert(withoutCache.exceptAll(withCache).isEmpty)
      }
    }
  }

  test("persist leaves the caller's canChangeCachedPlanOutputPartitioning as it was") {
    for (callerValue <- Seq(None, Some("false"), Some("true"))) {
      withConf(CoalesceKey, callerValue) {
        wide {
          CacheScope.withScope {
            val grouped = spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count()
            val cached  = newlyPersisted {
              CacheScope.persist(grouped, StorageLevel.MEMORY_AND_DISK).collect()
            }
            assert(explicit(CoalesceKey) === callerValue, s"caller value $callerValue")
            assert(cached.values.toSeq === Seq(1), s"caller value $callerValue: $cached")
          }
        }
      }
    }
  }

  test("withScope releases a coalesced cache: the CacheManager lookup finds nothing afterwards") {
    wide {
      val grouped = spark.range(0, 1000).groupBy((col("id") % 11).as("k")).count()
      val held = CacheScope.withScope {
        val p = CacheScope.persist(grouped, StorageLevel.MEMORY_AND_DISK)
        assert(p.count() === 11)
        assert(isCached(p))
        p
      }
      assert(!isCached(held))
      assert(!isCached(grouped))
    }
  }
}
