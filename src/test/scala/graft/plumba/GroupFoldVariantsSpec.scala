package graft.plumba

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plumba.Kernel._
import graft.plumba.syntax._

/** Differential tests: every per-group fold route must agree. */
class GroupFoldVariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Tables normalizes `ts` to bigint epoch nanos whatever the fixture's
  // physical timestamp type — the ord-column paths below require it
  private def events = graft.queries.Tables(spark, TestSpark.sfDir, "events")

  test("groupFoldMergeable (range-salted partials) == groupFold for a mergeable sum") {
    val mergeable = Fold[Double](
      0.0, (acc, args) => acc + args(0).asInstanceOf[Double],
      merge = Some(Merge(0.0, (a: Double, b: Double) => a + b)))
    val salted = GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), mergeable, DoubleType, buckets = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = events
      .groupFold(Seq("user_id"), Seq("value"), Seq("ts", "event_id"), mergeable, DoubleType)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted.keySet == sequential.keySet)
    salted.foreach { case (k, v) => assert(math.abs(v - sequential(k)) < 1e-9, s"user $k") }
  }

  test("groupFoldMergeable == groupFold for the ORDER-SENSITIVE streak kernel") {
    // streak of value > 50 per user: order across range partitions
    // matters — this is the test that would catch an unordered/hash salt.
    val k = Streak.kernel[Double](_ > 50.0)
    val salted = GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        buckets = 8, emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = GroupOps.groupFold(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == sequential)
  }

  test("groupFoldMergeable == groupFold when the ordering column contains NULLs") {
    // Spark's ascending sortWithinPartitions puts NULL ordering values
    // FIRST; the range partitioning must keep them ahead of every
    // non-null order value of their group, or an order-sensitive fold
    // is reordered.
    import spark.implicits._
    val df = Seq(
      (1L, Option(3.0), 10.0), (1L, Option.empty[Double], 100.0),
      (1L, Option(1.0), 1.0), (1L, Option(2.0), 5.0), (1L, Option(4.0), 6.0),
      (2L, Option.empty[Double], 7.0), (2L, Option(5.0), 2.0), (2L, Option(6.0), 9.0)
    ).toDF("g", "ord", "v")
    val k = Streak.kernel[Double](_ > 4.0) // order-sensitive
    val salted = GroupOps.groupFoldMergeable(
        df, Seq("g"), Seq("v"), Seq("ord"), k, DoubleType,
        buckets = 4, emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = GroupOps.groupFold(
        df, Seq("g"), Seq("v"), Seq("ord"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == sequential)
  }

  test("groupScanMergeable (range-salted) == groupScan for mergeable kernels") {
    // cummax is order-sensitive enough to catch bucket-order mistakes;
    // also run with planted null values (scan null policy) and null
    // ordering values (bucket-0 routing)
    val evn = events
      .withColumn("vn", when(col("value") > 95.0, lit(null)).otherwise(col("value")))
    val k = Kernel.Scan.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max)
    val salted = GroupOps.groupScanMergeable(
        evn, Seq("user_id"), Seq("vn"), Seq("ts", "event_id"), k, DoubleType, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> Option(r.get(3))).toMap
    val sequential = GroupOps.groupScan(
        evn, Seq("user_id"), Seq("vn"), Seq("ts", "event_id"), k, DoubleType)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> Option(r.get(3))).toMap
    assert(salted.size == sequential.size && salted == sequential)
    // order-sensitive last-wins kernel over a null-order frame
    import spark.implicits._
    val df = Seq(
      (1L, Option(3.0), 10.0), (1L, Option.empty[Double], 100.0),
      (1L, Option(1.0), 1.0), (1L, Option(2.0), 5.0), (2L, Option(9.0), 2.0)
    ).toDF("g", "ord", "v")
    val lastK = Kernel.Scan.of1[Double, Double](-1.0,
      merge = Some(Merge(-1.0, (a: Double, b: Double) => if (b == -1.0) a else b)))((_, x) => x)
    val s1 = GroupOps.groupScanMergeable(df, Seq("g"), Seq("v"), Seq("ord"), lastK, DoubleType, buckets = 4)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)) -> Option(r.get(2))).toSet
    val s2 = GroupOps.groupScan(df, Seq("g"), Seq("v"), Seq("ord"), lastK, DoubleType)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.toString)) -> Option(r.get(2))).toSet
    assert(s1 == s2)
  }

  test("mergeable paths with AUTO buckets (defaultParallelism-derived) == sequential") {
    // buckets = 0 (the default) range-sorts into the session's shuffle
    // partitions with sampled boundaries — results must be identical to
    // sequential regardless of where the sampled boundaries land
    val k = Streak.kernel[Double](_ > 50.0)
    val salted = GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sequential = GroupOps.groupFold(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType,
        emit = (a: Streak.S) => Streak.best(a).toDouble)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == sequential)
  }

  test("mergeable fold/scan paths leave no CacheManager entries behind (leak regression)") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val k = Kernel.Scan.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max)
    GroupOps.groupScanMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType, buckets = 4)
      .write.format("noop").mode("overwrite").save()
    CollectOps.collectScan(events, Seq("value"), Seq("ts", "event_id"), k, DoubleType)
      .write.format("noop").mode("overwrite").save()
    assert(cm.isEmpty, "a mergeable path registered a DataFrame cache it never released")
  }

  test("commutative groupFold (keys-only sort) == ordered groupFold per group") {
    // max is exactly commutative in doubles (unlike a double sum), so
    // the keys-only-sorted fast path must agree bit-for-bit with the
    // fully ordered one on every group
    val commutative = Fold.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b), commutative = true)))(math.max)
    val ordered = Fold.of1[Double, Double](0.0,
      merge = Some(Merge(0.0, (a: Double, b: Double) => math.max(a, b))))(math.max)
    def run(k: Fold[Double]) = GroupOps.groupFold(
        events, Seq("user_id"), Seq("value"), Seq("ts", "event_id"), k, DoubleType, "m")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(commutative) == run(ordered))
  }

  test("groupFoldMergeable rejects kernels without a Merge declaration") {
    val plain = Fold[Double](0.0, (acc, args) => acc + args(0).asInstanceOf[Double])
    intercept[IllegalArgumentException] {
      GroupOps.groupFoldMergeable(
        events, Seq("user_id"), Seq("value"), Seq("ts"), plain, DoubleType)
    }
  }

  test("SortedFoldAggregator under groupBy().agg() == GroupOps.groupFold (balance kernel)") {
    val balance = Fold[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    val viaAgg = events.groupBy("user_id")
      .agg(SortedFoldAggregator.foldColumn(
        Seq(col("ts"), col("event_id")), Seq(col("value") -> DoubleType), balance, DoubleType).as("balance"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaGroupOps = events
      .groupFold(Seq("user_id"), Seq("value"), Seq("ts", "event_id"), balance, DoubleType)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaAgg == viaGroupOps)
  }

  test("SortedFoldAggregator composes with other aggregates in one agg list") {
    val balance = Fold[Double](0.0, (acc, args) => {
      val x = args(0).asInstanceOf[Double]
      if (acc + x <= 1000.0) acc + x else acc
    })
    val r = events.groupBy("user_id")
      .agg(
        SortedFoldAggregator.foldColumn(Seq(col("ts"), col("event_id")), Seq(col("value") -> DoubleType), balance, DoubleType).as("balance"),
        count(lit(1)).as("n"),
        max(col("value")).as("mx"))
      .orderBy("user_id").limit(3).collect()
    assert(r.forall(row => row.getDouble(1) <= 1000.0 && row.getLong(2) > 0))
  }

  test("SortedFoldAggregator drops null value rows (fold null policy), does not throw") {
    // plant nulls in the value column; the fold must silently drop those
    // rows — a primitive-element input encoder would throw instead
    // (regression: null value row crashed the (Seq[Long], Seq[Double])
    // encoder before reduce ever saw it).
    val withNulls = events.withColumn("value_n", when(col("value") > 50.0, lit(null)).otherwise(col("value")))
    val sumFold = Fold[Double](0.0, (acc, args) => acc + args(0).asInstanceOf[Double])
    val viaAgg = withNulls.groupBy("user_id")
      .agg(SortedFoldAggregator.foldColumn(
        Seq(col("ts"), col("event_id")), Seq(col("value_n") -> DoubleType), sumFold, DoubleType).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaNative = withNulls.groupBy("user_id").agg(sum("value_n").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaAgg.foreach { case (k, v) => assert(math.abs(v - viaNative(k)) < 1e-6, s"user $k") }
  }

  test("SortedFoldAggregator handles non-double value types (long cap kernel)") {
    // a fold whose values are longs, composing with a native agg — the
    // generic typed path (the old aggregator hard-coded Seq[Double]).
    val capCount = Fold[Long](0L, (acc, args) => {
      val id = args(0).asInstanceOf[Long]
      if (id % 3 == 0) acc + 1 else acc
    })
    val r = events.groupBy("user_id")
      .agg(
        SortedFoldAggregator.foldColumn(
          Seq(col("ts"), col("event_id")), Seq(col("event_id") -> org.apache.spark.sql.types.LongType),
          capCount, org.apache.spark.sql.types.LongType).as("div3"),
        count(when(col("event_id") % 3 === 0, 1)).as("expected"))
      .collect()
    r.foreach(row => assert(row.getLong(1) == row.getLong(2), s"user ${row.getLong(0)}"))
  }

  test("scanListCol maxGroupSize guard: oversize groups fail loudly, bounded groups unaffected") {
    val cum = (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =>
      acc + x.getField(ExprOps.v(0))
    // groups of ~67 rows vs maxGroupSize=10: must raise, naming the bound
    val e = intercept[Exception] {
      events.groupBy("user_id")
        .agg(ExprOps.scanListCol(Seq(col("ts"), col("event_id")), Seq(col("value")),
          lit(0.0), cum, maxGroupSize = 10).as("s"))
        .collect()
    }
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxGroupSize=10") && msg.contains("groupScan"),
      s"guard must name the bound and the unbounded alternative: $msg")
    // the same scan with the bound above the group size is untouched:
    // identical to the unguarded default
    val guarded = events.groupBy("user_id")
      .agg(ExprOps.scanListCol(Seq(col("ts"), col("event_id")), Seq(col("value")),
        lit(0.0), cum, maxGroupSize = 1000).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val default = events.groupBy("user_id")
      .agg(ExprOps.scanListCol(Seq(col("ts"), col("event_id")), Seq(col("value")),
        lit(0.0), cum).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(guarded == default, "a satisfied guard must not change results")
  }
}
