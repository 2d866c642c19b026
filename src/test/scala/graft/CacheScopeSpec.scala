package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.domain.{Oco2Pipeline, Pipeline, SifPipeline, TargetCatalog}
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

  test("Oco2Pipeline.process and SifPipeline.process persist nothing") {
    import spark.implicits._
    // both reach the one region pass, which reads their sessions once
    val soundings = Seq((0L, 41.0, 11.0, 0), (1L, 41.1, 11.1, 0), (2L, 41.2, 21.0, 1))
      .map { case (i, lat, lon, seq) =>
        (i, lat, lon, 1071878400.0 + i, Seq(lat - 0.3, lat - 0.3, lat + 0.3, lat + 0.3),
          Seq(lon - 0.3, lon + 0.3, lon + 0.3, lon - 0.3), 0, 1.5 + i, 3, seq)
      }.toDF("sounding_index", "latitude", "longitude", "delta_time", "vertex_latitude",
        "vertex_longitude", "quality_flag", "daily_sif", "operation_mode", "sequences_index")
    val sequences = Seq((0, "fossil0001"), (1, "fossil0002")).toDF("seq_index", "seq_target")
    wide {
      CacheScope.withScope {
        val cached = newlyPersisted {
          val cfg = Pipeline.Config(gridN = 8, method = "linear")
          assert(Oco2Pipeline.process(granule, catalog, cfg).collect().nonEmpty)
          assert(SifPipeline.process(soundings, sequences, catalog,
            cfg.copy(samMode = 3, targetMode = 2)).collect().nonEmpty)
        }
        assert(cached.isEmpty, s"cached partitions: $cached")
      }
    }
  }

  test("a job's product cache of a one-granule batch holds one partition") {
    // the product cache as RunJob (`cleaned`) and the queue loop take it:
    // the pipeline product persisted through CacheScope. AQE coalesces
    // the region exchange the product ends in, so one granule's product
    // caches one partition, and the cached product equals the uncached.
    wide {
      val cfg = Pipeline.Config(gridN = 8, method = "linear")
      CacheScope.withScope {
        val cached = newlyPersisted {
          val p = CacheScope.persist(Oco2Pipeline.process(granule, catalog, cfg), StorageLevel.MEMORY_AND_DISK)
          assert(p.collect().nonEmpty)
        }
        assert(cached.values.toSeq === Seq(1), s"cached partitions: $cached")
      }
      CacheScope.withScope {
        val withCache = CacheScope.persist(
          Oco2Pipeline.process(granule, catalog, cfg), StorageLevel.MEMORY_AND_DISK)
        val withoutCache = Oco2Pipeline.process(granule, catalog, cfg)
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
