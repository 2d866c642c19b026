package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.Sessionize

/** Property tests for the islands algorithm (SURVEY §5 item 4): over random
  * mode/target sequences, regions partition the kept rows into contiguous,
  * key-constant, densely-numbered runs separated by justified boundaries,
  * and the walk ([[Sessionize.regions]]) assigns the same ids as the window
  * reference ([[SessionizeReference]]). (Seeded random trials;
  * scalatest+scalacheck-bridge not in the offline dependency cache, so
  * trials are explicit loops.)
  */
class SessionizePropertySpec extends SparkSpec {
  import spark.implicits._

  test("regions partition kept rows into contiguous key-constant runs with margin gaps") {
    for (trial <- 0 until 12) {
      val rng  = new scala.util.Random(100 + trial)
      val rows = List.fill(60)((rng.nextInt(3) * 2, s"t${rng.nextInt(3) + 1}")) // modes 0/2/4
      val df = rows.zipWithIndex
        .map { case ((m, t), i) => (i.toLong, m, t) }
        .toDF("idx", "mode", "target")
        .filter($"mode".isin(2, 4))
      val out = Sessionize
        .regions(df, $"idx", Seq("mode", "target"), margin = Some(2))
        .select("idx", "mode", "target", "region_id")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1)

      if (out.nonEmpty) {
        val ids = out.map(_._4)
        assert(ids.min === 0L, s"trial $trial: ids start at 0")
        assert(ids.distinct.sorted === (0L to ids.max).toArray, s"trial $trial: dense ids")
        out.sliding(2).foreach {
          case Array((i1, m1, t1, r1), (i2, m2, t2, r2)) =>
            if (r1 == r2) {
              assert(m1 == m2 && t1 == t2, s"trial $trial: key constant within region")
              assert(i2 - i1 <= 2, s"trial $trial: gap within region respects margin")
            } else {
              assert(r2 == r1 + 1, s"trial $trial: region ids increase by 1")
              assert(m1 != m2 || t1 != t2 || i2 - i1 > 2, s"trial $trial: boundary justified")
            }
          case _ => ()
        }
      }
    }
  }

  test("time-gap sessions: within-session gaps <= threshold, boundaries exceed it") {
    for (trial <- 0 until 8) {
      val rng     = new scala.util.Random(200 + trial)
      val offsets = List.fill(40)(rng.nextLong(20000L)).distinct
      val df = offsets.zipWithIndex
        .map { case (off, i) => (i.toLong, new java.sql.Timestamp(1700000000000L + off * 1000)) }
        .toDF("id", "ts")
      val out = Sessionize
        .regions(df, unix_timestamp($"ts"), Nil, margin = Some(1800), regionCol = "session_id")
        .select("ts", "session_id")
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
        .sortBy(_._1)
      out.sliding(2).foreach {
        case Array((a, s1), (b, s2)) =>
          if (s1 == s2) assert((b - a) / 1000 <= 1800, s"trial $trial")
          else assert((b - a) / 1000 > 1800, s"trial $trial")
        case _ => ()
      }
    }
  }

  /** `df`'s rows as sorted strings over `cols`, nulls spelled out. */
  private def rowsOf(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("the walk matches the window reference: key change with and without margin, several partitions") {
    for (trial <- 0 until 10) {
      val rng    = new scala.util.Random(300 + trial)
      val margin = 1L + rng.nextInt(3)
      // per partition: order values advance by margin-1, margin or margin+1
      // (plus 1-step runs); a few rows carry a null order value, and those
      // peers share one key, as ties must for the window to be order-free
      val rows = for {
        g   <- Seq("g0", "g1", "g2")
        idx <- {
          val steps = List.fill(30)(rng.nextInt(4) match {
            case 0 => 1L
            case k => math.max(1L, margin - 2 + k)
          })
          steps.scanLeft(rng.nextInt(5).toLong)(_ + _).map(Option(_)) ++
            List.fill(rng.nextInt(3))(None)
        }
      } yield {
        val mode   = rng.nextInt(5) match { case 0 => null; case k => Int.box(if (k < 3) 2 else 4) }
        val target = rng.nextInt(5) match { case 0 => null; case k => s"t${k % 2}" }
        idx match {
          case Some(i) => (g, Long.box(i), mode, target)
          case None    => (g, null: java.lang.Long, Int.box(4), "t1")
        }
      }
      val df = spark.createDataFrame(
        rng.shuffle(rows).map { case (g, i, m, t) => Row(g, i, m, t) }.asJava,
        StructType.fromDDL("g string, idx bigint, mode int, target string")).repartition(4)
      val cols = Seq("g", "idx", "mode", "target", "region_id")
      val keys = Seq("mode", "target")
      assert(
        rowsOf(Sessionize.regions(df, $"idx", keys, Seq("g"), margin = Some(margin)), cols: _*) ===
          rowsOf(SessionizeReference.byKeyChangeWithMargin(df, "idx", keys, margin, Seq("g")), cols: _*),
        s"trial $trial: margin $margin")
      assert(
        rowsOf(Sessionize.regions(df, $"idx", keys, Seq("g")), cols: _*) ===
          rowsOf(SessionizeReference.byKeyChange(df, "idx", keys, Seq("g")), cols: _*),
        s"trial $trial: no margin")
      // one unpartitioned walk over one group, mode-filtered (the q09 shape)
      val g0 = df.filter($"g" === "g0")
      assert(
        rowsOf(Sessionize.regions(g0, $"idx", keys, margin = Some(margin), keep = $"mode" === 4), cols: _*) ===
          rowsOf(SessionizeReference.byKeyChangeWithMargin(g0.filter($"mode" === 4), "idx", keys, margin), cols: _*),
        s"trial $trial: unpartitioned")
    }
  }

  test("the walk matches the window reference: keyless time gap with ties") {
    for (trial <- 0 until 6) {
      val rng = new scala.util.Random(400 + trial)
      // whole-second offsets from a small range (ties within a user), gaps
      // of 1799/1800/1801 s, and sub-second parts that truncation ignores
      val rows = for {
        uid <- 0L until 4L
        off <- List.fill(25)(rng.nextInt(6) match {
          case 0 => 1799L
          case 1 => 1800L
          case 2 => 1801L
          case _ => rng.nextInt(4).toLong
        }).scanLeft(0L)(_ + _)
      } yield (uid, new java.sql.Timestamp(1700000000000L + off * 1000L + rng.nextInt(1000)))
      val df   = rows.toDF("uid", "ts").repartition(3)
      val cols = Seq("uid", "ts", "session_id")
      assert(
        rowsOf(Sessionize.regions(df, unix_timestamp($"ts"), Nil, Seq("uid"), margin = Some(1800),
          regionCol = "session_id"), cols: _*) ===
          rowsOf(SessionizeReference.byTimeGap(df, "ts", 1800, Seq("uid")), cols: _*),
        s"trial $trial")
    }
  }

  test("the wildcard walk matches the reference fill then margin runs: leading, interior, trailing, all-wildcard") {
    val drop = Set("none", "Missing", "missing")
    for (trial <- 0 until 8) {
      val rng = new scala.util.Random(500 + trial)
      def target(): String = rng.nextInt(8) match {
        case 0 | 1 | 2 => "none"
        case 3         => "Missing"
        case 4         => null
        case k         => s"t${k % 2}"
      }
      // runs of one target per partition; g0 leads and g1 trails with a
      // wildcard run, g3 is wildcards only
      def runs(g: String): Seq[String] = {
        val body = Seq.fill(6 + rng.nextInt(4))(target()).flatMap(t => Seq.fill(1 + rng.nextInt(4))(t))
        g match {
          case "g0" => Seq.fill(3)("none") ++ body
          case "g1" => body ++ Seq.fill(3)("none")
          case "g3" => Seq.fill(5)("none")
          case _    => body
        }
      }
      val rows = for {
        g      <- Seq("g0", "g1", "g2", "g3")
        (t, i) <- runs(g).zipWithIndex
      } yield Row(g, i.toLong, Int.box(Seq(0, 2, 3, 3)(rng.nextInt(4))), t)
      val df = spark.createDataFrame(rng.shuffle(rows).asJava,
        StructType.fromDDL("g string, idx bigint, mode int, target string"))
        .repartition(3)
      val keys = Seq("mode", "target")
      val got = Sessionize.regions(df, $"idx", keys, Seq("g"), margin = Some(2L),
        keep = $"mode".isin(3, 2), fill = Some(Sessionize.Fill("target", "none", drop)))
      val filled = SessionizeReference.coalesceWildcard(df, "idx", "target", "none", Seq("g"))
      val want = SessionizeReference.byKeyChangeWithMargin(
        filled.filter($"mode".isin(3, 2) && !$"target".isin(drop.toSeq: _*)), "idx", keys, 2L, Seq("g"))
      val cols = Seq("g", "idx", "mode", "target", "region_id")
      assert(rowsOf(got, cols: _*) === rowsOf(want, cols: _*), s"trial $trial")
      assert(got.filter($"g" === "g3").isEmpty, s"trial $trial: an all-wildcard granule keeps no row")
    }
  }
}
