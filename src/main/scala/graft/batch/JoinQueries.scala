package graft.batch

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import Q.{exactSum, sqlExactSum, exactAvg, sqlExactAvg}

/** Joins & enrichment (SURVEY.md §2.8) plus a TPC-H-style relational suite.
  *
  * The reference's only join-shaped construct is a per-record JDBC lookup
  * (`chapter8/AsyncFunctionExample.scala:77-159`). At scale that is a
  * stream-static / dimension join: the dim side is small → `broadcast()` so
  * the 100 TB fact side never shuffles. The TPC-H-style queries exercise the
  * full join surface (multi-way, semi, anti, set ops) the engine owes a
  * relational user.
  */
object JoinQueries {

  val all: Seq[Q] = Seq(

    // J1/J2 — enrichment lookup: fact (lineitem) joined to a small dimension
    // (supplier) — the Spark answer to the reference's async per-record
    // lookups. NO broadcast hint: supplier grows with scale factor, so the
    // build-side choice belongs to AQE's measured runtime stats (it picks
    // broadcast whenever the dim actually fits), not to a hard-coded hint
    // that becomes a driver OOM at some SF.
    Q("j1_enrich_lookup",
      s"""SELECT l_orderkey, l_linenumber, l_quantity, s_name
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "s_name")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Multi-way star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region —
    // revenue by region (TPC-H Q5 shape). nation/region keep explicit
    // broadcast hints (25/5 rows at EVERY scale factor — constant by the
    // schema, not by measurement); customer grows linearly with SF, so its
    // build side is AQE's runtime call.
    Q("q5_revenue_by_region",
      s"""SELECT r_name, ${sqlExactSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        // exactSum, not dec4(sum(...)): revenue ~6e9 over 600k rows — the
        // double's ulp at that magnitude is ~1e-6, so round-after-sum flips
        // 4-dp boundaries with partial-agg order (observed at sf0.1)
        .agg(exactSum("l_extendedprice * (1 - l_discount)").as("revenue"))
        .orderBy("r_name")
    },

    // TPC-H Q7 shape — cross-nation trade volume by ship year: the deepest
    // join tree in the relational suite (lineitem ⋈ supplier ⋈ orders ⋈
    // customer ⋈ nation ⋈ nation — six relations, nation twice under
    // different roles). The optimizer-shape test q5 doesn't exercise:
    // Catalyst must push the n1<>n2 cross-nation filter above both dim
    // joins, keep the two nation legs as independent broadcasts, and
    // chain the fact-side hash joins without materializing the raw
    // lineitem more than once. Volume sums via the exactSum quantized
    // path (q5's magnitude reasoning applies).
    Q("q7_nation_trade",
      s"""SELECT supp_nation, cust_nation, l_year,
         |  ${sqlExactSum("volume")} AS revenue
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS INT) AS l_year,
         |    l_extendedprice * (1 - l_discount) AS volume
         |  FROM lineitem
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE n1.n_name <> n2.n_name
         |)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1")) // constant 25-row dim
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .select(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("int").as("l_year"),
          expr("l_extendedprice * (1 - l_discount)").as("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(exactSum("volume").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // Correlated-subquery surface — customers above their nation's average
    // balance, written as SQL TEXT with two correlated scalar subqueries
    // and executed through `spark.sql` (the one suite query exercising the
    // SQL-string front door + Catalyst's decorrelation: the optimizer
    // rewrites both subqueries into ONE per-nation aggregate joined back —
    // never a per-row subquery execution; `.explain` shows a plain
    // Aggregate + Join tree). The comparison is the exact-integer
    // cross-product cents·count > sum_cents — comparing against a FLOAT
    // average would sit rows exactly on the boundary where partial-agg
    // summation order diverges across engines.
    Q("q_above_nation_avg",
      s"""SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
         |WHERE CAST(floor(c_acctbal * 100) AS BIGINT) *
         |    (SELECT count(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
         |  > (SELECT sum(CAST(floor(c3.c_acctbal * 100) AS BIGINT))
         |     FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
         |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        s"""SELECT c_custkey, c_nationkey, c_acctbal FROM customer_v c
           |WHERE CAST(floor(c_acctbal * 100) AS BIGINT) *
           |    (SELECT count(*) FROM customer_v c2 WHERE c2.c_nationkey = c.c_nationkey)
           |  > (SELECT sum(CAST(floor(c3.c_acctbal * 100) AS BIGINT))
           |     FROM customer_v c3 WHERE c3.c_nationkey = c.c_nationkey)
           |ORDER BY c_custkey""".stripMargin)
    },

    // TPC-H Q1 shape — pricing summary; the canonical partial-agg benchmark
    Q("q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlExactSum("l_quantity")} AS sum_qty,
         |  ${sqlExactSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlExactSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sqlExactSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${sqlExactAvg("l_quantity")} AS avg_qty,
         |  ${sqlExactAvg("l_extendedprice")} AS avg_price,
         |  ${sqlExactAvg("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // 600k-row groups: all float aggregates go through the quantized
      // exact-decimal path (see Q.exactSum) — round-after-sum is order-
      // fragile at this group size
      val li = Tables.lineitem(s, d)
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          exactSum("l_quantity").as("sum_qty"),
          exactSum("l_extendedprice").as("sum_base_price"),
          exactSum("l_extendedprice * (1 - l_discount)").as("sum_disc_price"),
          exactSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)").as("sum_charge"),
          // unrounded: the exact-sum quotient is already bit-identical in
          // both engines; a display round() could land on a decimal tie
          exactAvg("l_quantity").as("avg_qty"),
          exactAvg("l_extendedprice").as("avg_price"),
          exactAvg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Semi join (EXISTS): customers with at least one open order
    Q("j_semi_exists",
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // Anti join (NOT EXISTS): parts never shipped
    Q("j_anti_not_exists",
      s"""SELECT p_partkey, p_name FROM part
         |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    },

    // Set ops — union/intersect/except never appear in the reference
    // (multi-stream merge is `connect`); they come built-in (SURVEY §2.8)
    Q("set_ops",
      s"""SELECT k FROM (
         |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
         |  INTERSECT
         |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
         |) ORDER BY k""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k")))
        .orderBy("k")
    },

    // Grouped join + HAVING: top-spending customers (TPC-H Q3-ish shape)
    Q("q3_big_spenders",
      s"""SELECT c_custkey, c_name, ${sqlExactSum("o_totalprice")} AS total_spent,
         |  count(*) AS n_orders
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name
         |HAVING count(*) >= 5
         |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(exactSum("o_totalprice").as("total_spent"), count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 5)
        .orderBy("c_custkey")
    },

    // Interval join — batch twin of the streaming stream-stream interval
    // join (graft.streaming.StreamJoins.correlatedReadings): pair each event
    // with the same user's events up to 2 minutes earlier. Same shape the
    // state store uses at scale: EQUALITY key (user_id) partitions the
    // join, the time-range predicate filters within the partition — never a
    // cross product. Self-pairs excluded; both sides of a pair emitted once.
    Q("j_interval",
      s"""SELECT l.event_id AS l_event, r.event_id AS r_event, l.user_id,
         |  l.value AS l_value, r.value AS r_value
         |FROM events l JOIN events r
         |  ON l.user_id = r.user_id
         | AND r.ts >= l.ts - INTERVAL '2 minutes' AND r.ts <= l.ts
         | AND l.event_id <> r.event_id
         |ORDER BY l_event, r_event""".stripMargin) { (s, d) =>
      // Time-bucket decomposition: the join key is (user, 2-minute bucket),
      // not user alone — a bare user_id key makes every per-user group
      // O(user-history²) inside the join, unbounded at 100 TB (one chatty
      // device = one straggler task). The right side replicates into its
      // own bucket and the next (lts ∈ [rts, rts+2min] ⇒ bucket(lts) is
      // bucket(rts) or bucket(rts)+1), so each group holds ≤ two bucket
      // widths of one user's events regardless of history length. 2× row
      // replication buys bounded, skew-resistant groups.
      val ev = Tables.events(s, d)
      val bucketUs = 2L * 60 * 1000 * 1000 // 2 min in µs = the interval
      val l = ev.select(col("event_id").as("l_event"), col("user_id"),
        col("ts").as("lts"), col("value").as("l_value"),
        expr(s"unix_micros(ts) div $bucketUs").as("lb"))
      val r = ev.select(col("event_id").as("r_event"), col("user_id").as("r_user"),
        col("ts").as("rts"), col("value").as("r_value"),
        explode(expr(s"array(unix_micros(ts) div $bucketUs, unix_micros(ts) div $bucketUs + 1)")).as("rb"))
      l.join(r,
        col("user_id") === col("r_user") && col("lb") === col("rb") &&
          col("rts") >= col("lts") - expr("INTERVAL 2 MINUTES") &&
          col("rts") <= col("lts") &&
          col("l_event") =!= col("r_event"))
        .select("l_event", "r_event", "user_id", "l_value", "r_value")
        .orderBy("l_event", "r_event")
    },

    // As-of join — the time-series enrichment operator (market-data "latest
    // quote for each trade", training-data "latest profile snapshot for each
    // event"): each probe event (even event_ids) joins the LATEST reference
    // event (odd event_ids) of the same user with ref.ts <= probe.ts, or
    // NULLs if none. Spark has no ASOF JOIN; the naive forms are a per-user
    // sort window (one mega-user = one straggler task) or a t-range theta
    // join (quadratic). This is the skew-safe decomposition:
    //   1. probes join same-(user, 2-min bucket) refs only (bounded per
    //      task by bucket width, the j_interval stance) → best in-bucket;
    //   2. per-(user, bucket) ref summaries get a prefix-max window over
    //      the BUCKET-SUMMARY table (result-sized — the e6 bucket-
    //      decomposed prefix pattern) → best-before-bucket carry, built on
    //      the (user, bucket) domain of BOTH sides so probe buckets with no
    //      refs still see the carry;
    //   3. best = greatest(in-bucket, carry), lexicographic on
    //      (ts, event_id) — the deterministic latest.
    // The oracle is the independent direct form: LEFT theta join + per-probe
    // rank. Identical tie semantics: max (ts, event_id).
    Q("j_asof",
      s"""WITH a AS (SELECT event_id, user_id, ts, value FROM events WHERE event_id % 2 = 0),
         |b AS (SELECT event_id, user_id, ts, value FROM events WHERE event_id % 2 = 1),
         |j AS (
         |  SELECT a.event_id, a.user_id, a.value,
         |    b.event_id AS ref_event_id, b.value AS ref_value,
         |    row_number() OVER (PARTITION BY a.event_id ORDER BY b.ts DESC, b.event_id DESC) AS rn
         |  FROM a LEFT JOIN b ON b.user_id = a.user_id AND b.ts <= a.ts
         |)
         |SELECT event_id, user_id, value, ref_event_id, ref_value
         |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val bucketUs = 2L * 60 * 1000 * 1000 // 2-min buckets (the j_interval width)
      val ev = Tables.events(s, d)
        .withColumn("bucket", expr(s"unix_micros(ts) div $bucketUs"))
      val a = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("bucket"))
      val b = ev.filter(col("event_id") % 2 === 1)
        .select(col("user_id").as("b_user"), col("bucket").as("b_bucket"),
          struct(col("ts").as("b_ts"), col("event_id").as("b_event_id"),
            col("value").as("b_value")).as("bs"))
      // 1. best same-bucket ref at-or-before each probe (join bounded by
      //    bucket width; max(struct) is the argmax-by-(ts, event_id))
      val inb = a.join(b,
          col("user_id") === col("b_user") && col("bucket") === col("b_bucket") &&
            col("bs.b_ts") <= col("ts"))
        .groupBy("event_id").agg(max("bs").as("inb"))
      // 2. per-bucket ref summaries + prefix carry over the bucket-summary
      //    table, on the union domain of probe and ref buckets
      val bsum = b.groupBy("b_user", "b_bucket").agg(max("bs").as("mb"))
      val dom = a.select(col("user_id").as("b_user"), col("bucket").as("b_bucket"))
        .union(bsum.select("b_user", "b_bucket")).distinct()
      val carryW = Window.partitionBy("b_user").orderBy("b_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = dom.join(bsum, Seq("b_user", "b_bucket"), "left")
        .withColumn("cb", max("mb").over(carryW))
        .select(col("b_user"), col("b_bucket"), col("cb"))
      // 3. combine: lexicographic max of the two candidates (null-skipping)
      a.join(inb, Seq("event_id"), "left")
        .join(carry,
          col("user_id") === col("b_user") && col("bucket") === col("b_bucket"), "left")
        .withColumn("best", greatest(col("inb"), col("cb")))
        .select(col("event_id"), col("user_id"), col("value"),
          col("best.b_event_id").as("ref_event_id"),
          col("best.b_value").as("ref_value"))
        .orderBy("event_id")
    },

    // Stream-static shape on events: enrich the event stream with a computed
    // dimension (per-user lifetime stats) — self-join twin of the reference's
    // broadcast-state config lookup (chapter7/BroadcastStateFunction.scala)
    Q("j_stream_static_twin",
      s"""WITH dim AS (SELECT user_id, ${sqlExactAvg("value")} AS user_avg FROM events GROUP BY user_id)
         |SELECT e.event_id, e.user_id, e.value, dim.user_avg
         |FROM events e JOIN dim ON e.user_id = dim.user_id
         |WHERE e.value > dim.user_avg * 1.5
         |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      // exactAvg: the average feeds BOTH the emitted column and the filter
      // predicate — a 1-ulp summation-order diff flips row membership, so
      // the aggregate must be bit-identical across engines. Emitted
      // UNROUNDED: the exact-sum quotient is already the same double in
      // both engines, while a display round() can land on a true decimal
      // tie (count = 2^a·5^b makes sum/count exactly x.xxxx5) where Spark
      // HALF_UP and DuckDB's binary rounding disagree — observed at sf0.1.
      // dim is one row PER USER aggregated from the fact table itself — a
      // data-dependent size that is unbounded at 100 TB, so no broadcast
      // hint; AQE measures the aggregate's actual size and picks the build
      // side (it still broadcasts at test SFs, by measurement not fiat)
      val ev = Tables.events(s, d)
      val dim = ev.groupBy("user_id").agg(exactAvg("value").as("user_avg"))
      ev.join(dim, Seq("user_id"))
        .filter(col("value") > col("user_avg") * 1.5)
        .select("event_id", "user_id", "value", "user_avg")
        .orderBy("event_id")
    },
  )
}
