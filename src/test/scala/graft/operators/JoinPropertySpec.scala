package graft.operators

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property tests: the bucketed/union-scan join operators agree with
  * straightforward in-memory references on random inputs. Spark jobs per
  * case are real, so the case counts stay modest (the algebraic surface
  * is small; the SF-validated oracles cover volume). */
class JoinPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(prop: Prop, cases: Int): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  test("AsofJoin == in-memory reference on random inputs (inclusive and strict)") {
    val genSide = Gen.listOf(Gen.zip(Gen.choose(1, 4), Gen.choose(0L, 30L)))
    check(Prop.forAll(genSide, genSide, Gen.oneOf(true, false)) { (ls, rsRaw, strict) =>
      // unique (key, time) on the right: the deterministic-pick contract
      val rs = rsRaw.distinctBy(x => (x._1, x._2))
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k.toLong, t, i.toLong) }
      val right = rs.map { case (k, t) => (k.toLong, t, k * 1000L + t) }
      val expect = left.map { case (k, t, id) =>
        val cands = right.filter { case (rk, rt, _) => rk == k && (if (strict) rt < t else rt <= t) }
        id -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
      }.toMap
      val got =
        AsofJoin.asofLast(
            left.toDF("k", "t", "lid"), right.toDF("k", "t", "pay"),
            Seq("k"), "t", Seq("pay"), strict = strict)
          .collect().map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
      got == expect
    }, cases = 15)
  }

  test("salted AsofJoin == unsalted on skewed data (one hot key, forced multi-bucket)") {
    // 90% of rows on one hot key — the exact shape the salt exists for;
    // buckets forced > 1 so the edge pass and seed carry across range
    // partitions genuinely run (adaptive coalescing could merge them)
    val genHot = Gen.listOf(Gen.zip(
      Gen.frequency(9 -> Gen.const(7), 1 -> Gen.choose(1, 4)), Gen.choose(0L, 30L)))
    check(Prop.forAll(genHot, genHot, Gen.oneOf(true, false), Gen.choose(2, 6)) {
      (ls, rsRaw, strict, buckets) =>
        val rs = rsRaw.distinctBy(x => (x._1, x._2))
        val left = ls.zipWithIndex.map { case ((k, t), i) => (k.toLong, t, i.toLong) }
        val right = rs.map { case (k, t) => (k.toLong, t, k * 1000L + t) }
        val expect = left.map { case (k, t, id) =>
          val cands = right.filter { case (rk, rt, _) => rk == k && (if (strict) rt < t else rt <= t) }
          id -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
        }.toMap
        val got =
          AsofJoin.asofLastSalted(
              left.toDF("k", "t", "lid"), right.toDF("k", "t", "pay"),
              Seq("k"), "t", Seq("pay"), strict = strict, buckets = buckets)
            .collect().map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
        got == expect
    }, cases = 12)
  }

  test("salted AsofJoin: composite keys behave like unsalted") {
    val left = Seq((1L, "x", 5L, 100L), (1L, "y", 5L, 101L), (2L, "x", 9L, 102L))
      .toDF("k1", "k2", "t", "lid")
    val right = Seq((1L, "x", 3L, 10L), (1L, "y", 4L, 20L), (2L, "x", 9L, 30L), (1L, "x", 6L, 40L))
      .toDF("k1", "k2", "t", "pay")
    def run(f: org.apache.spark.sql.DataFrame): Map[Long, Any] =
      f.collect().map(r => r.getLong(3) -> r.get(4)).toMap
    val unsalted = run(AsofJoin.asofLast(left, right, Seq("k1", "k2"), "t", Seq("pay")))
    val salted = run(AsofJoin.asofLastSalted(left, right, Seq("k1", "k2"), "t", Seq("pay"), buckets = 3))
    assert(salted == unsalted)
    assert(salted(100L) == 10L && salted(101L) == 20L && salted(102L) == 30L)
  }

  test("GroupTopK rejects null sort keys with the contract error") {
    val df = Seq((1L, Some(5L), 1L), (1L, None, 2L)).toDF("g", "v", "id")
    val e = intercept[Exception] {
      GroupTopK.topK(df, Seq("g"), Seq(("v", false), ("id", true)), 1).collect()
    }
    assert(e.getMessage.contains("non-null") ||
      Option(e.getCause).exists(_.getMessage.contains("non-null")))
  }

  test("salted AsofJoin: equal right times resolve by tie-break, same as unsalted") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L)).toDF("k", "t", "lid")
    // two right rows at the same (key, time): last in tie-break order wins
    val right = Seq((1L, 10L, 5L, "a"), (1L, 10L, 9L, "b"), (1L, 15L, 1L, "c"))
      .toDF("k", "t", "tb", "pay")
    def run(f: => org.apache.spark.sql.DataFrame): Map[Long, (Any, Any)] =
      f.collect().map(r => r.getLong(2) -> ((r.get(3), r.get(4)))).toMap
    val unsalted = run(AsofJoin.asofLast(
      left, right, Seq("k"), "t", Seq("tb", "pay"), rightTieBreak = Seq("tb")))
    val salted = run(AsofJoin.asofLastSalted(
      left, right, Seq("k"), "t", Seq("tb", "pay"), rightTieBreak = Seq("tb"), buckets = 3))
    assert(salted == unsalted)
    assert(salted(100L)._2 == "b") // tb 9 > 5: last-in-tie-break wins
    assert(salted(101L)._2 == "c")
  }

  test("SaltedJoin == plain inner join on random multisets (duplicate keys both sides)") {
    // multiset equality: duplicates on either side must multiply matches
    // exactly as an unsalted join does
    val genProbe = Gen.listOf(Gen.zip(
      Gen.frequency(7 -> Gen.const(3), 3 -> Gen.choose(1, 5)), Gen.choose(0, 9)))
    val genBuild = Gen.listOf(Gen.zip(Gen.choose(1, 5), Gen.choose(100, 109)))
    check(Prop.forAll(genProbe, genBuild, Gen.choose(1, 7)) { (ps, bs, salt) =>
      val probe = ps.map { case (k, v) => (k.toLong, v.toLong) }.toDF("k", "v")
      val build = bs.map { case (k, w) => (k.toLong, w.toLong) }.toDF("bk", "w")
      val salted = SaltedJoin.innerJoin(probe, build, "k", "bk", salt = salt)
        .select("k", "v", "w").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val plain = probe.join(build, $"k" === $"bk")
        .select("k", "v", "w").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      salted == plain
    }, cases = 12)
  }

  test("GroupTopK == window row_number formulation on random data (duplicate sort values)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // values drawn from a small range so ties are common — the
    // tie-break column (id) must make both formulations agree exactly
    val genRows = Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 5), Gen.choose(0, 9)))
    check(Prop.forAll(genRows, Gen.choose(1, 4)) { (rows, k) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g.toLong, v.toLong, i.toLong) }
        .toDF("g", "v", "id").repartition(3)
      val got = GroupTopK.topK(df, Seq("g"), Seq(("v", false), ("id", true)), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val want = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select("g", "v", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got == want
    }, cases = 12)
  }

  test("RangeJoin == in-memory reference on random inputs, duplicate-free") {
    val genPoints = Gen.listOf(Gen.choose(-50.0, 50.0))
    val genIvals = Gen.listOf(Gen.zip(Gen.choose(-50.0, 50.0), Gen.choose(0.0, 40.0)))
    check(Prop.forAll(genPoints, genIvals, Gen.choose(1.0, 25.0)) { (ps, ivs, w) =>
      val points = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      val ivals = ivs.zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
      val expect = (for {
        (pid, p) <- points
        (iid, lo, hi) <- ivals
        if p >= lo && p <= hi
      } yield (pid, iid)).toSet
      val rows = RangeJoin.pointInInterval(
          points.toDF("pid", "p"), ivals.toDF("iid", "lo", "hi"), "p", "lo", "hi", w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      rows.length == rows.distinct.length && rows.toSet == expect
    }, cases = 15)
  }
}
