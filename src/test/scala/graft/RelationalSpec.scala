package graft

import graft.operators.Relational
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.get("graft-test", cpus = 4)
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs `f` starts. The status store sees jobs in submission
    * order, so once a marker job after `f` shows, every job of `f` has. */
  def jobsIn(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-end", group)
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-end").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("Verify's fallback sort skips queries that author their own order") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((2L, "b"), (1L, "a")).toDF("k", "v")
    assert(!Verify.endsInGlobalSort(df))
    assert(Verify.endsInGlobalSort(df.orderBy("k")))
    assert(Verify.endsInGlobalSort(df.orderBy(col("k").desc).limit(1)))
    assert(Verify.endsInGlobalSort(df.orderBy("k").select(col("v"))))
    // sortWithinPartitions is NOT a global order — fallback must apply
    assert(!Verify.endsInGlobalSort(df.sortWithinPartitions("k")))
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("approx distinct users: HLL within tolerance and exact counts right") {
    import org.apache.spark.sql.functions._
    // within_tolerance is computed distributedly from the live HLL
    // estimate vs the exact count (|approx−exact| ≤ max(10, 5%·exact);
    // rsd=0.01 makes that ≥5σ — deterministic for a fixed input). The
    // DuckDB oracle pins the flag TRUE, so the driver now hash-gates
    // this query; this spec asserts the same invariant plus the exact
    // column against an independent aggregation.
    val sf01 = "/root/testdata/sf0.01"
    val got = Relational.qApproxDistinctUsers(spark, sf01)
      .select(col("event_type"), col("exact_users"), col("within_tolerance"))
      .as[(String, Long, Boolean)](org.apache.spark.sql.Encoders.product)
      .collect()
    assert(got.nonEmpty)
    got.foreach { case (et, _, ok) => assert(ok, s"$et out of HLL tolerance") }
    val exact = Tables(spark, sf01).events
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
      .as[(String, Long)](org.apache.spark.sql.Encoders.product)
      .collect().toMap
    assert(got.map(r => r._1 -> r._2).toMap == exact)
  }

  test("asof attribution equals brute-force latest-at-or-before view") {
    import org.apache.spark.sql.functions._
    val got = Relational.qAsofAttribution(spark, sf)
      .select(col("event_id"), col("last_view_ms"))
      .as[(Long, Option[Long])](org.apache.spark.sql.Encoders.product)
      .collect().toMap
    val ev = Tables(spark, sf).events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_millis(col("ts")))
      .as[(Long, String, Long, Long)](org.apache.spark.sql.Encoders.product)
      .collect()
    val viewsByUser = ev.filter(_._2 == "view")
      .groupBy(_._1).view.mapValues(_.map(_._4)).toMap
    val purchases = ev.filter(_._2 == "purchase")
    assert(purchases.nonEmpty && got.nonEmpty)
    purchases.foreach { case (u, _, eid, ms) =>
      val want = viewsByUser.getOrElse(u, Array.empty[Long])
        .filter(_ <= ms) match {
        case a if a.isEmpty => None
        case a => Some(a.max)
      }
      assert(got(eid) == want, s"purchase $eid user $u at $ms")
    }
  }

  test("range join equals brute-force ±5-minute click count") {
    import org.apache.spark.sql.functions._
    val got = Relational.qRangeJoin(spark, sf)
      .select(col("event_id"), col("n_nearby_clicks"))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.product)
      .collect().toMap
    val ev = Tables(spark, sf).events
      .filter(col("event_type").isin("error", "click"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_millis(col("ts")))
      .as[(Long, String, Long, Long)](org.apache.spark.sql.Encoders.product)
      .collect()
    val clicksByUser = ev.filter(_._2 == "click")
      .groupBy(_._1).view.mapValues(_.map(_._4)).toMap
    val errors = ev.filter(_._2 == "error")
    assert(errors.nonEmpty && got.nonEmpty)
    errors.foreach { case (u, _, eid, ms) =>
      val want = clicksByUser.getOrElse(u, Array.empty[Long])
        .count(c => math.abs(c - ms) <= 300000L)
      assert(got(eid) == want, s"error $eid user $u at $ms")
    }
    assert(got.values.sum > 0, "some error must have a nearby click")
  }

  test("pivot crosstab row totals equal the unpivoted per-nation revenue") {
    import org.apache.spark.sql.functions._
    val piv = Relational.qPivotRevenue(spark, sf)
    val cols = Seq("p_urgent", "p_high", "p_medium", "p_not_specified", "p_low")
    assert(piv.columns.toSeq == ("n_name" +: cols))
    val rowTotals = piv.select(col("n_name"),
      cols.map(col).reduce(_ + _).as("t"))
      .as[(String, Double)](org.apache.spark.sql.Encoders.product)
      .collect().toMap
    val t = Tables(spark, sf)
    val want = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("t"))
      .as[(String, Double)](org.apache.spark.sql.Encoders.product)
      .collect().toMap
    assert(rowTotals.keySet == want.keySet)
    // row sums differ from the direct total only by the 5 per-cell 2-dp
    // roundings
    rowTotals.foreach { case (n, v) =>
      assert(math.abs(v - want(n)) < 0.05, s"$n: $v vs ${want(n)}")
    }
  }

  test("q1 aggregates match a hand check") {
    val row = SparkEntry.queries("q1_pricing_summary")(spark, sf)
      .filter("l_returnflag = 'A'").collect()
    assert(row.nonEmpty)
    assert(row.forall(_.getAs[Long]("count_order") > 0))
  }

  test("event transition probabilities row-normalize to 1") {
    val rows = SparkEntry.queries("q_event_transitions")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      assert(math.abs(g.map(_._3).sum - 1.0) < 1e-4)
    }
  }

  test("basket lift is consistent with its own count columns") {
    val df = SparkEntry.queries("q_basket_lift")(spark, sf)
    val nOrders = graft.Tables(spark, sf).lineitem
      .select("l_orderkey").distinct().count()
    val rows = df.collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (w, cs, cd, lift) = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))
      val want = BigDecimal(w.toDouble * nOrders / (cs.toDouble * cd))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(lift == want && w >= 3)
    }
  }

  test("interarrival stats match a local replay from collected events") {
    val evs = Tables(spark, sf).events
      .select(org.apache.spark.sql.functions.unix_millis(
        org.apache.spark.sql.functions.col("ts")).as("ms"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gaps = evs.groupBy(e => (e._3, e._4)).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._1, e._2)).sliding(2).collect {
        case Array(a, b) => (a._4, (b._1 - a._1) / 1000)
      }
    }
    val want = gaps.groupBy(_._1).map { case (t, gs) =>
      val n = gs.length.toLong
      val sg = gs.map(_._2).sum
      val sg2 = gs.map(g => g._2 * g._2).sum
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      t -> (n, r4(sg.toDouble / n),
        r4(math.sqrt(math.max(
          n.toDouble * sg2 - sg.toDouble * sg, 0.0)) / sg))
    }
    val got = Relational.qInterarrival(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == want, s"$got vs $want")
  }

  test("MG sketch: sound bounds everywhere, finds true hitters on skew") {
    // zipf-ish stream: item 1 = 40%, item 2 = 20%, tail of 500 others
    val stream = (Seq.fill(4000)(1L) ++ Seq.fill(2000)(2L) ++
      (0 until 4000).map(i => 100L + i % 500)).toArray
    // deterministic interleave so hitters aren't clustered in one run
    val shuffled = stream.zipWithIndex
      .sortBy { case (v, i) => (i * 2654435761L) % 1000003L }.map(_._1)
    val exact = shuffled.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val rdd = spark.sparkContext.parallelize(shuffled.toSeq, 8)
    val (est, dec) = Relational.mgSketch(rdd, counters = 64)
    // soundness: never overcounts, undercount bounded by dec — for
    // EVERY item, present in the summary or not
    for ((x, c) <- exact) {
      val e = est.getOrElse(x, 0L)
      assert(e <= c && c - e <= dec, s"item $x: est $e exact $c dec $dec")
    }
    // the two true heavy hitters survive the merge and dominate
    assert(est.contains(1L) && est.contains(2L))
    assert(est(1L) > est.values.filter(_ != est(1L)).maxOption.getOrElse(0L)
      || est(1L) >= est(2L))
    val flags = Relational.qHeavyHitters(spark, sf)
      .select("within_bound").collect().map(_.getBoolean(0))
    assert(flags.length == 10 && flags.forall(identity))
  }

  test("props json extraction matches a local parse") {
    val ev = Tables(spark, sf).events
      .select("event_type", "props").collect()
      .map(r => (r.getString(0),
        """"k":\s*(-?\d+)""".r.findFirstMatchIn(r.getString(1))
          .get.group(1).toLong))
    val want = ev.groupBy(_._1).map { case (t, rs) =>
      t -> (rs.length.toLong, rs.map(_._2).sum,
        rs.map(_._2).min, rs.map(_._2).max)
    }
    val got = Relational.qPropsJson(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
  }

  test("decayed activity: decayed <= total, local replay agrees") {
    val rows = Tables(spark, sf).events
      .select(org.apache.spark.sql.functions.unix_millis(
        org.apache.spark.sql.functions.col("ts")).as("ms"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mx = rows.map(_._1).max
    val want = rows.groupBy(_._2).map { case (t, rs) =>
      val dl = rs.map { case (ms, _, v) =>
        math.round(v * math.pow(2.0, -((mx - ms) / 86400000.0) / 7.0) * 1e6)
      }.sum
      t -> BigDecimal(dl / 1e6).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Relational.qDecayedActivity(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    got.foreach { case (t, d, tot) =>
      assert(d == want(t), s"$t: $d vs ${want(t)}")
      assert(d <= tot + 1e-9, s"$t decayed $d > total $tot")
    }
  }

  test("grouping sets: each granularity's counts sum to the grand total") {
    val rows = Relational.qGroupingSets(spark, sf)
      .select("priority", "status", "gid", "n_orders")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = rows.filter(r => r._3 == 3L).map(_._4)
    assert(total.length == 1) // exactly one () grand-total row
    // every requested granularity partitions the order set
    for (gid <- Seq(0L, 1L, 2L)) {
      val part = rows.filter(_._3 == gid)
      assert(part.nonEmpty, s"gid $gid missing")
      assert(part.map(_._4).sum == total.head, s"gid $gid doesn't partition")
    }
    // gid bit semantics: 1 = status grouped out, 2 = priority grouped out
    assert(rows.filter(_._3 == 1L).forall(r => r._2 == "ALL" && r._1 != "ALL"))
    assert(rows.filter(_._3 == 2L).forall(r => r._1 == "ALL" && r._2 != "ALL"))
  }

  test("bloom prefilter join result equals the plain join exactly") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val plain = t.lineitem
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    val bloomed = Relational.qBloomPrefilter(spark, sf)
    assert(bloomed.except(plain).isEmpty && plain.except(bloomed).isEmpty)
  }

  test("rfm scores are quintiles: near-equal bucket populations") {
    val rows = Relational.qRfm(spark, sf).collect()
    val nCust = rows.map(_.getLong(3)).sum
    for (scoreIdx <- 0 to 2) {
      val byScore = rows.groupBy(_.getLong(scoreIdx))
        .map { case (s, rs) => (s, rs.map(_.getLong(3)).sum) }
      assert(byScore.keySet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
      // SQL ntile: bucket sizes differ by at most 1
      assert(byScore.values.max - byScore.values.min <= 1,
        s"score col $scoreIdx sizes $byScore")
      assert(byScore.values.sum == nCust)
    }
  }

  test("abc pareto: classes partition parts, shares ordered A >= B") {
    val rows = Relational.qAbcPareto(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("A", "B", "C"))
    val byClass = rows.map(r => r._1 -> r._4).toMap
    assert(byClass("A") >= 0.75 && byClass("A") <= 0.85)
    assert(byClass("A") > byClass("B") && byClass("B") > byClass("C"))
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
  }

  test("value deciles: 10 buckets, shares sum to 1, ranges ordered") {
    val rows = Relational.qValueDeciles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    assert(math.abs(rows.map(_._6).sum - 1.0) < 1e-4)
    // decile 1 = highest spenders: max_cents nonincreasing down the list
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 >= b._4, s"decile ${a._1} max < decile ${b._1} max") }
    rows.foreach { r => assert(r._3 <= r._4 && r._5 >= r._4) }
  }

  test("event type overlap: diagonal dominates, symmetric pairs once") {
    val rows = Relational.qEventTypeOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val diag = rows.filter(r => r._1 == r._2).map(r => r._1 -> r._3).toMap
    assert(diag.nonEmpty)
    rows.foreach { case (a, b, n) =>
      assert(a <= b, "each unordered pair appears once, lo-hi")
      assert(n <= math.min(diag(a), diag(b)),
        s"overlap($a,$b)=$n exceeds a marginal")
    }
  }

  test("dup inflation: savings bounded by totals and by cluster sizes") {
    import graft.operators.Dedup
    val rows = Dedup.dupInflation(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (s, nDocs, tot, dup, share) =>
      assert(dup >= 0 && dup <= tot, s"$s dup tokens out of range")
      assert(share >= 0.0 && share <= 1.0)
      assert(nDocs > 0 && tot > 0)
    }
    // global removed-doc count consistent with the cluster report
    val clusters = Dedup.nearDupClusters(spark,
      Tables(spark, sf).documents, sf).collect()
    val removedDocs = clusters.map(r => r.getLong(2) - 1).sum
    // every removed doc has >= 1 token in this corpus, so dup_tokens
    // must be 0 iff no cluster has >1 member
    val dupTotal = rows.map(_._4).sum
    assert((removedDocs == 0) == (dupTotal == 0))
  }

  test("value gini in [0,1) and equals a driver-side exact replay") {
    import org.apache.spark.sql.functions._
    val row = Relational.qValueGini(spark, sf).collect().head
    val n = row.getLong(0)
    val gini = row.getDouble(1)
    assert(gini >= 0.0 && gini < 1.0)
    // exact replay from collected cent values
    val vs = Tables(spark, sf).orders
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
      .select("v").collect().map(_.getLong(0)).sorted
    assert(vs.length == n)
    val s1 = vs.map(BigInt(_)).sum
    val s2 = vs.zipWithIndex.map { case (v, i) => BigInt(i + 1) * v }.sum
    val want = 2.0 * s2.toDouble / (n.toDouble * s1.toDouble) -
      (n + 1).toDouble / n
    assert(math.abs(gini - want) < 1e-6, s"$gini vs $want")
  }

  test("incremental dedup: rates bounded, dup implies a qualifying pair") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val rows = Dedup.incrementalDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (s, nNew, nDup, rate) =>
      assert(nDup <= nNew, s"$s dup > new")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // total dups bounded by delta docs that appear in ANY pair
    val docs = Tables(spark, sf).documents
    val pairIds = Dedup.cachedMinhashPairs(sf, docs, 0.8)
      .select(explode(array(col("a"), col("b"))).as("doc_id"))
      .filter(pmod(col("doc_id"), lit(7)) === 3)
      .distinct().count()
    assert(rows.map(_._3).sum <= pairIds)
  }

  test("benford: observed shares sum to 1, digits complete") {
    val rows = Relational.qBenford(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    // the pinned expectations are the Benford constants
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }
}
