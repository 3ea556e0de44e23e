package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Relational operator coverage over the driver's synthetic tables.
  *
  * Each query maps to one or more rows of SURVEY.md §2's operator
  * inventory (noted per query) and has an exact DuckDB oracle in
  * [[Relational.oracle]]. Column names/aliases match the oracle SQL
  * exactly — the driver sorts columns by name before hashing.
  *
  * Scale notes (100 TB design intent, verified on local[32]):
  *  - all aggregates are hash aggregates with map-side partials;
  *  - dimension joins (customer/nation/region/supplier) are broadcast;
  *  - filters/projections sit directly on the parquet scan so Catalyst
  *    pushes them into the reader (PushedFilters / ReadSchema);
  *  - double-valued aggregates are rounded in BOTH engines so the
  *    hash compare is stable across summation orders.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** SURVEY §2 A5 (count+sum+avg hash aggregate). TPC-H Q1 shape. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** SURVEY §2 P5-P9 (filter + projection pushed to the scan). Q6 shape. */
  def q2FilterPushdown(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.09) &&
        col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_rows"))

  /** SURVEY §2 J1 (equi inner join, broadcast dimension) + A5. */
  def q3JoinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("total_spend"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  /** SURVEY §2 J2 (left-semi join). Customers that have orders, per nation. */
  def q4SemiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))

  /** SURVEY §2 J3 (left-anti join — the reference's wastedAttempts =
    * attempts NOT in finals). Customers with no open ('O') order. */
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))

  /** SURVEY §2 A1/W1 (last-write-wins per key via ranking window).
    * Latest event per user, ordered by (ts, event_id) — mirrors the
    * reference's last-record-wins merge (bin/job_history:232-257). */
  def q6LastWriteWins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_type").as("last_type"),
        round(col("value"), 2).as("last_value"),
        // ts is BIGINT nanos (nanosAsLong); DIV 1000 == DuckDB epoch_us
        expr("ts DIV 1000").as("last_ts_us"))
      .orderBy(col("user_id"))
  }

  /** SURVEY §2 W2 (running-sum analytic window — the sweep-line
    * formulation of the reference's concurrency timeline). */
  def q7RunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("running_value"))
      .orderBy(col("event_id"))
  }

  /** SURVEY §2 O1 + top-k (TakeOrderedAndProject). Ranked by the
    * ROUNDED sum so the cutoff is stable across summation orders
    * (partial-aggregate order differs between engines/scales). */
  def q8TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("spend").desc, col("o_custkey"))
      .limit(10)
      .select(col("o_custkey"), col("spend"), col("n_orders"))

  /** SURVEY §2 A9/F7 (nested counter/JSON scalar extraction with
    * default-0 — py semantics, bin/job_history.py:104). */
  def q9JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k",
        coalesce(regexp_extract(col("props"), "\"k\": (\\d+)", 1)
          .cast("long"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** SURVEY §2 J1 chain (multi-way star join, broadcast dims). */
  def q10StarJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))

  /** SURVEY §2 T4 (pivot to wide per-phase series). Per-day counts per
    * event type as fixed wide columns, like the timeline's 5 series. */
  def q11PivotWide(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("day", expr("(ts DIV 1000) DIV 86400000000"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("day"))

  /** SURVEY §2 T1-T2 (time-spine generation + interval expansion →
    * per-unit concurrency). Each event is an interval
    * [ts, ts + value seconds]; count overlapping events per minute over
    * a dense spine, zeros preserved — the reference timeline's exact
    * dataflow shape (bin/job_history:460-536). */
  def q12IntervalConcurrency(s: SparkSession, dir: String): DataFrame = {
    // greatest(hi, lo): Spark's sequence(lo, hi) descends when hi < lo
    // while DuckDB's generate_series is empty — clamp so an inverted
    // interval (negative value) contributes exactly its start unit.
    val iv = t(s, dir, "events").select(
      expr("(ts DIV 1000) DIV 60000000").as("lo"),
      expr("greatest(((ts DIV 1000) + CAST(floor(value * 1000000.0) AS BIGINT)) DIV 60000000, " +
        "(ts DIV 1000) DIV 60000000)").as("hi"))
    val b = iv.agg(min(col("lo")).as("mn"), max(col("hi")).as("mx"))
    val spine = b.select(explode(sequence(col("mn"), col("mx"))).as("t"))
    val counts = iv
      .select(explode(sequence(col("lo"), col("hi"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_raw"))
    spine.join(counts, Seq("t"), "left")
      .select(col("t"), coalesce(col("n_raw"), lit(0L)).as("n"))
      .orderBy(col("t"))
  }

  /** SURVEY §2.7 (set ops — EXCEPT/distinct). */
  def q13SetExcept(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "P").select(col("o_custkey")).distinct()
      .except(
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct())
      .orderBy(col("o_custkey"))
  }

  /** SURVEY §2 A2 (countDistinct per group) over a time rollup. */
  def q14CountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("day", expr("(ts DIV 1000) DIV 86400000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("day"))

  /** SURVEY §2 A4/J5 (global scalar extremes broadcast onto every
    * group row — the reference's submitTime/allMapsComplete pattern). */
  def q15ScalarCross(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val totals = o.agg(
      count(lit(1)).as("total_n"),
      // o_orderdate reads as TIMESTAMP_NTZ; session tz is UTC so the
      // cast is identity and matches DuckDB's epoch_us
      unix_micros(min(col("o_orderdate")).cast("timestamp")).as("first_us"),
      unix_micros(max(col("o_orderdate")).cast("timestamp")).as("last_us"))
    o.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals))
      .select(
        col("o_orderstatus"),
        col("n"),
        round(col("n").cast("double") / col("total_n"), 6).as("frac"),
        col("first_us"),
        col("last_us"))
      .orderBy(col("o_orderstatus"))
  }

  /** SURVEY §2.11: the 100 TB distinct-count surface — HLL sketches
    * instead of exact shuffles. The raw estimate is engine-specific
    * (DuckDB's HLL differs from Spark's), so the gated output carries
    * the exact count plus `hll_ok`: the estimate landed within 10% of
    * exact (5× the configured 2% rsd; Spark's HLL++ is deterministic
    * per dataset, so the flag is stable run-to-run). The oracle emits
    * the exact counts and TRUE — a drifted or broken sketch flips the
    * flag and fails the hash gate. The exact `countDistinct` here is
    * the gate harness, not the scale path: a 100 TB run keeps only the
    * `approx_users` aggregate (one fixed-size sketch per group, no
    * per-value shuffle). */
  def q16ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(
        col("event_type"),
        col("n_users"),
        col("n_events"),
        (abs(col("approx_users") - col("n_users")).cast("double") /
          col("n_users") <= 0.10).as("hll_ok"))
      .orderBy(col("event_type"))

  /** SURVEY §7 scale path: skew-resistant two-stage aggregation. The
    * events table groups to a handful of event_types (heavy keys): a
    * deterministic salt fans each hot key across 16 reducers for the
    * partial stage, the final stage merges 16× fewer rows per key.
    * Result is identical to the direct groupBy (the oracle computes it
    * directly). */
  def q17SaltedAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("salt", pmod(col("user_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        round(sum(col("pv")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** q29: skew-resistant SALTED JOIN — the join-side counterpart of
    * q17's salted aggregation, and the standard rescue when one fact
    * key is hot enough that a single reducer would receive a whole
    * key's rows (AQE's skew-join split handles moderate skew
    * post-hoc; explicit salting is the deterministic pre-planned
    * form that also works mid-pipeline where AQE cannot re-split).
    * The fact side (events) gets a deterministic salt in [0, 8); the
    * dim side (customer) is EXPLODED 8× so every (key, salt) fact
    * row finds its dim row; the join key becomes (key, salt), so a
    * hot user's rows fan across 8 reducers instead of one. The
    * shuffle_hash hint keeps the join a real shuffled join — a
    * broadcast would make salting moot (and at 100 TB the dim that
    * needs salting is precisely the one too big to broadcast after
    * 8× replication). Result is identical to the unsalted join,
    * which is what the oracle computes. The salt hashes (user_id,
    * value) through `hash()` — NULL-safe by construction (hash of a
    * null input is a defined non-null int), so a null fact column can
    * never null the salt and silently drop a row the unsalted join
    * would keep; folding `value` in keeps a single hot key fanning
    * across all R shards. */
  def q29SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val R = 8
    val fact = t(s, dir, "events")
      .select(col("user_id"), col("value"))
      .withColumn("salt", pmod(hash(col("user_id"), col("value")), lit(R)))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("dsalt", explode(array((0 until R).map(lit): _*)))
    fact.join(dim.hint("shuffle_hash"),
        col("user_id") === col("c_custkey") && col("salt") === col("dsalt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** q30: rank-family window surfaces — `percent_rank` and `ntile`
    * quartiles of each event's value WITHIN its (event_type, user)
    * group. The window keys on (type, user) deliberately: cardinality
    * ≈ users, so every reducer gets small independent groups — a
    * per-type-only window would funnel a whole type's corpus through
    * one task's sort at 100 TB (the distributed alternative for
    * global ranks is q20's range-cell machinery). Ordering inside the
    * group is (value, event_id) — a total order, so both engines
    * agree on ranks at ties. */
  def q30WindowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("value"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .orderBy(col("event_id"))
  }

  /** SURVEY §2.6 beyond-reference windows: rollup with grouping ids —
    * subtotal rows materialize map-side-combined partials per grouping
    * set, no extra scans. */
  def q18Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("rflag"), col("lstatus"))

  /** SURVEY §2.6 beyond-reference: full CUBE over two order dimensions
    * — all four grouping sets ((a,b), (a), (b), ()) from ONE scan via
    * the Expand operator, each set map-side-combined like q18's
    * rollup; `grouping_id` (leftmost column = high bit in both
    * engines) disambiguates a genuine NULL dimension value from a
    * subtotal row. */
  def q23Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("sum_price"))
      .orderBy(col("gid"), col("status"), col("priority"))

  /** SURVEY §2.6 beyond-reference: ARBITRARY grouping sets — the
    * third member of the rollup/cube family, for set combinations
    * neither expresses: here the two single-dimension totals
    * ((l_returnflag), (l_linestatus)) WITHOUT the pair or the grand
    * total. A rollup can't skip (a,b)→(a)'s hierarchy and a cube
    * would compute (and then have to discard) the other two sets;
    * `groupingSets` plans exactly the requested sets through the same
    * single-scan Expand operator (each input row expands to one row
    * per set, each set map-side-combines — at 100 TB the scan cost is
    * paid once, not once per set). `grouping_id` bit convention as in
    * q23: leftmost grouping column = high bit, so (l_returnflag) →
    * gid 1 (l_linestatus missing), (l_linestatus) → gid 2. */
  def q27GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("rflag"), col("lstatus"))

  /** SURVEY §2 beyond-reference: APPROXIMATE percentiles — the
    * one-pass mergeable-sketch percentile (`approx_percentile`,
    * Greenwald-Khanna) that IS the 100 TB path: map-side partial
    * sketches merge associatively, so the full pass is one scan +
    * one tiny merge, no per-group sort anywhere (q20's distributed
    * exact selection is the exact dual). Gated q16-style: the hashed
    * columns are the EXACT discrete percentiles (the k-th smallest
    * value at k = ⌈q·n⌉ — a value at a rank is tie-stable, so both
    * engines read the identical parquet double), plus `apx_ok`, the
    * engine-side assertion that the sketch's answer lands within its
    * guaranteed rank window ±(n/accuracy + 1) around k. The oracle
    * states the same exact values with `apx_ok` = true, so a sketch
    * regression outside its own error bound fails the hash. */
  def q28ApproxPercentiles(s: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val e = t(s, dir, "events").select(col("event_type"), col("value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wn = Window.partitionBy(col("event_type"))
    val ranked = e
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("tol", expr(s"n DIV $acc") + 1)
    def rank(q: Double) = expr(s"CAST(ceil($q * n) AS BIGINT)")
    def at(q: Double, off: Column) =
      max(when(col("rn") === greatest(lit(1L), rank(q) + off), col("value")))
    val exact = ranked.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      at(0.5, lit(0L)).as("p50"), at(0.9, lit(0L)).as("p90"),
      at(0.5, -col("tol")).as("lo50"), at(0.5, col("tol")).as("hi50"),
      at(0.9, -col("tol")).as("lo90"),
      // the +tol rank can exceed n in p90's tail — null there, and
      // the check falls back to the group max
      at(0.9, col("tol")).as("hi90raw"),
      max(col("value")).as("vmax"))
    val apx = e.groupBy(col("event_type")).agg(
      expr(s"approx_percentile(value, array(0.5D, 0.9D), $acc)").as("ap"))
    exact.join(apx, Seq("event_type"))
      .select(col("event_type"), col("n"), col("p50"), col("p90"),
        (col("ap")(0) >= col("lo50") && col("ap")(0) <= col("hi50") &&
          col("ap")(1) >= col("lo90") &&
          col("ap")(1) <= coalesce(col("hi90raw"), col("vmax")))
          .as("apx_ok"))
      .orderBy(col("event_type"))
  }

  /** SURVEY §2 beyond-reference: correlated-subquery semantics —
    * orders priced above their own customer's average. Spark-first
    * decorrelation: ONE aggregate over orders + a re-join on the
    * customer key (what Catalyst's subquery decorrelation emits
    * anyway), instead of a per-row subquery; the oracle states the
    * same query as a genuinely correlated scalar subquery, proving
    * the rewrite. */
  def q25AboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val avgSpend = o.groupBy(col("o_custkey").as("k"))
      .agg(avg(col("o_totalprice")).as("cust_avg"))
    o.join(avgSpend, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** SURVEY §2.6 beyond-reference: UNPIVOT — q11's pivot inverted,
    * wide metric columns back to long (metric, value) rows. The
    * Expand-based unpivot multiplies rows AFTER the aggregate, so the
    * wide input is the k-row result, never the scan. */
  def q24Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_discount")), 2).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "v")
      .orderBy(col("l_returnflag"), col("metric"))

  /** SURVEY §2.6: lag-based sessionization — per-user event gaps > 30
    * minutes open a new session; one window shuffle on the user key. */
  def q19Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    t(s, dir, "events")
      .select(col("user_id"), expr("ts DIV 1000").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull ||
          col("us") - col("prev") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Exact interpolated percentiles per group (the linear-interpolation
    * definition both engines share), via DISTRIBUTED selection — no
    * per-group single-task sort. The naive window
    * (`row_number() OVER (PARTITION BY l_returnflag ORDER BY price)`)
    * sorts each flag's ENTIRE row set on one task: with ~3 distinct
    * flags that is a straggler/OOM at 100 TB. Instead:
    *
    *  - pass 1 range-partitions on (group, value) — the sampled range
    *    partitioner is a pure function of the key, so equal values
    *    share a cell and per-(group, cell) counts define exact global
    *    rank offsets (a tiny table: groups × nCells rows);
    *  - the bracketing global ranks `floor/ceil(p·(n-1))+1` locate the
    *    cells that contain them (prefix-sum over the tiny count table);
    *  - pass 2 sorts ONLY those hot cells, each bounded by the range
    *    split size n/nCells — never a whole group — and `off +
    *    row_number()` reconstructs the exact global rank.
    *
    * The interpolation `lower + (pos - floor(pos)) * (higher - lower)`
    * is the same double expression `percentile`/`quantile_cont`
    * evaluate — results stay bit-exact. At 100 TB, nCells is the
    * scaling knob (cells stay executor-sized); `percentile()` (one
    * in-memory buffer per hot group) and the low-cardinality window
    * sort both fail that test. approx_percentile remains the sketch
    * path. */
  def q20Percentiles(s: SparkSession, dir: String): DataFrame = {
    val nCells = s.sessionState.conf.numShufflePartitions
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val counts = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    def pos(p: Double): Column = lit(p) * (col("n") - 1).cast("double")

    // Pass 1: range cells + exact per-cell rank offsets. BOTH consumers
    // of `ranged` (offsets, pass-2 rank join) must share ONE exchange
    // materialization: the range partitioner samples its boundaries per
    // materialization, so divergent copies could disagree on `cell` and
    // silently corrupt the reconstructed ranks (PlanSpec asserts the
    // ReusedExchange).
    val ranged = li
      .repartitionByRange(nCells, col("l_returnflag"), col("l_extendedprice"))
      .withColumn("cell", spark_partition_id())
    val wOff = Window.partitionBy(col("l_returnflag")).orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("l_returnflag"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))

    // The 1-indexed global ranks bracketing each requested quantile.
    val targets = counts
      .select(col("l_returnflag"), explode(array(
        floor(pos(0.5)) + 1, ceil(pos(0.5)) + 1,
        floor(pos(0.95)) + 1, ceil(pos(0.95)) + 1)).as("rn"))
      .distinct()

    // Pass 2: sort only the cells holding a target rank.
    val hotCells = targets.join(offsets, Seq("l_returnflag"))
      .filter(col("rn") > col("off") && col("rn") <= col("off") + col("cnt"))
      .select(col("l_returnflag"), col("cell"), col("off")).distinct()
    val wCell = Window.partitionBy(col("l_returnflag"), col("cell"))
      .orderBy(col("l_extendedprice"))
    val ranked = ranged
      .join(broadcast(hotCells), Seq("l_returnflag", "cell"))
      .withColumn("rn", col("off") + row_number().over(wCell))
      .join(broadcast(targets), Seq("l_returnflag", "rn"))

    val k = col("rn") - 1
    def stat(p: Double, edge: Column => Column): Column =
      max(when(k === edge(pos(p)), col("l_extendedprice")))
    def interp(p: Double, lower: Column, higher: Column): Column =
      lower + (pos(p) - floor(pos(p)).cast("double")) * (higher - lower)
    ranked
      .join(broadcast(counts), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("n"))
      .agg(
        stat(0.5, floor).as("l50"), stat(0.5, ceil).as("h50"),
        stat(0.95, floor).as("l95"), stat(0.95, ceil).as("h95"))
      .select(col("l_returnflag"),
        round(interp(0.5, col("l50"), col("h50")), 4).as("p50"),
        round(interp(0.95, col("l95"), col("h95")), 4).as("p95"),
        col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Range-frame window: per-user moving event count over a 10-minute
    * time window (RANGE frame on the microsecond axis — q7's running
    * sum covers ROWS frames; this is the value-based sibling). */
  def q21RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val tenMinUs = 10L * 60 * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-tenMinUs, 0)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("us"))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("n_in_window"))
      .orderBy(col("event_id"))
  }

  /** q22: as-of join — attach to each `purchase` event the most recent
    * prior-or-equal `view` event of the same user (last-touch
    * attribution; the canonical time-series as-of). Implemented as
    * union + one window pass — `last(..., ignoreNulls)` over rows up
    * to the current one — NOT a per-pair range join: a range join
    * explodes to O(purchases × views) per user before picking the max,
    * while the window shape is one shuffle on user_id and one
    * time-ordered sort, the same plan a 1000-executor as-of over 100 TB
    * wants (both engines window identically; ties on `us` break by
    * event_id, which the ORDER BY pins in both). */
  def q22AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("asof_view_id",
        last(when(col("event_type") === "view", col("event_id")), true).over(w))
      .withColumn("asof_gap_us",
        col("us") -
          last(when(col("event_type") === "view", col("us")), true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("asof_view_id"), col("asof_gap_us"))
      .orderBy(col("event_id"))
  }

  /** q26: range self-join — per-user pairs of events within a
    * 10-minute window, as a BUCKETED equi-join instead of the
    * inequality join the SQL spells (`b.us - a.us <= W`). A naive
    * range join is O(n²) per user (Spark would plan the inequality as
    * a broadcast nested loop); bucketing `us DIV W` and probing each
    * later event's own and previous bucket turns it into a hash
    * equi-join on (user, bucket) — every qualifying pair spans at
    * most adjacent buckets, each pair matches exactly one probe, and
    * the shuffle is keyed, partition-parallel, and skew-splittable by
    * AQE. The exact window predicate then filters the bounded
    * candidate set. This is the standard interval-join decomposition
    * (the same shape Flink/Databricks use for point-in-interval
    * joins); W is the bucket width, so candidate count is
    * O(pairs-within-2W), never O(n²). */
  def q26RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val W = 600000000L // 10 min in us
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"))
    val later = e
      .select(col("user_id"), col("event_id").as("b_id"), col("us").as("b_us"))
      .withColumn("bk", explode(array(
        expr(s"b_us DIV $W - 1"), expr(s"b_us DIV $W"))))
    val earlier = e
      .select(col("user_id"), col("event_id").as("a_id"), col("us").as("a_us"))
      .withColumn("bk", expr(s"a_us DIV $W"))
    later.join(earlier, Seq("user_id", "bk"))
      .filter(col("a_us") < col("b_us") ||
        (col("a_us") === col("b_us") && col("a_id") < col("b_id")))
      .filter(col("b_us") - col("a_us") <= W)
      .withColumn("gap", col("b_us") - col("a_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------- table-layout ops
  // The two STORAGE-LAYOUT levers a 100 TB deployment pulls before any
  // query-side optimization — partition pruning (skip directories at
  // planning time) and bucketing (pre-shuffled join sides) — staged as
  // real physical layouts under target/ and gated like every other
  // operator. The layouts were previously proven only in
  // PartitionPruningSpec/BucketingSpec; these entries put a green
  // driver-gate row on them (plan shapes pinned in PlanSpec).

  /** One staged layout per input fingerprint: the hex rides in the
    * dir/table name, so a regenerated source table re-stages instead
    * of serving a stale layout (the s10/ann-index idiom). */
  private[queries] def layoutHex(s: SparkSession, dir: String,
      table: String): String = {
    val fp = DedupOps.pathFingerprint(s, s"$dir/$table.parquet")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir/$table@$fp".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** q31: PARTITION-PRUNED scan — documents staged once as a
    * `PARTITIONED BY (source)` directory layout, then a
    * source-filtered aggregation over it. The filter lands in the
    * scan's PartitionFilters (directory skip at PLANNING time, pinned
    * in PlanSpec), not PushedFilters (row-group skip after listing):
    * at 100 TB with hundreds of sources this is the difference
    * between reading 1/Nth of the corpus and listing-then-discarding
    * all of it. The oracle computes the same aggregation from the
    * unpartitioned table — layout must never change results. */
  def q31PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Paths.get("target",
      s"q31_docs_${layoutHex(s, dir, "documents")}").toAbsolutePath
    synchronized {
      if (!java.nio.file.Files.exists(out.resolve("_SUCCESS")))
        Tables(s, dir, "documents").write.mode("overwrite")
          .partitionBy("source").parquet(out.toString)
    }
    s.read.parquet(out.toString)
      .filter(col("source") === "src3")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy(col("lang"))
  }

  /** q32: BUCKETED co-located join — orders and customer staged once
    * as tables bucketed 8 ways on the join key (sorted within
    * buckets), then joined with NO shuffle exchange: the bucket
    * layout already satisfies both sides' hash-distribution
    * requirement, so the sort-merge join reads co-located buckets in
    * place (zero-exchange plan pinned in PlanSpec). The repeated
    * large-large join on a stable key is THE case for paying one
    * bucketed write: at 100 TB every subsequent join of the pair
    * skips two corpus-wide shuffles. The `merge` hint keeps the join
    * a real SMJ at gate scale, where the dim would otherwise
    * broadcast and hide the property being gated; the oracle is the
    * plain unbucketed join. */
  def q32BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // BOTH sides' fingerprints ride in the hex: a regenerated customer
    // table with an unchanged orders table must re-stage too, or the
    // existing-tables short-circuit would serve a stale customer layout
    val hex = layoutHex(s, dir, "orders") + layoutHex(s, dir, "customer")
    val ot = s"graft_q32_orders_$hex"
    val ct = s"graft_q32_customer_$hex"
    synchronized {
      if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)) {
        // clear stale on-disk leftovers from an earlier session: a
        // managed CREATE refuses a non-empty pre-existing location
        val wh = s.conf.get("spark.sql.warehouse.dir")
        Seq(ot, ct).foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          val p = new org.apache.hadoop.fs.Path(s"$wh/$tbl")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        Tables(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable(ot)
        Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable(ct)
      }
    }
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  // ----------- q33-q44: the partials maintenance shelf. Each gate is a
  // PartialsShelf entry on its own artifact copy; every gate's result
  // must equal what its oracle computes over the raw events in one
  // pass, so maintenance is invisible in the result.

  /** q33: INCREMENTAL AGGREGATE MAINTENANCE — the don't-rescan-history
    * batch pattern every nightly pipeline runs: yesterday's per-key
    * aggregate is MATERIALIZED as integer-cent partials with its `_CUT`
    * watermark (read back like a production metrics table), and today's
    * query scans ONLY the delta (`ts > _CUT`, pushed to the scan —
    * plan-pinned in PlanSpec) and merges the two partial relations.
    * The oracle computes the same statistics over the full table. */
  def q33IncrementalAgg(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.q33)

  /** q33 through the SQL-TEXT surface: the same refresh as ONE
    * `spark.sql(...)` statement over serial-suffixed temp views of the
    * raw events and the partials artifact, gated by q33's oracle. The
    * delta predicate embeds via [[PartialsShelf.tsCutSql]], so the
    * pushed scan matches the DataFrame path's encoding handling; view
    * hygiene is pinned in RelationalSpec. */
  def q33IncrementalAggSql(s: SparkSession, dir: String): DataFrame = {
    val raw = DedupOps.readStable(s, s"$dir/events.parquet")
    val out = PartialsShelf.build(s, dir, PartialsShelf.q33)
    JobHistoryOps.withSqlViews(s, Seq(
      "q33_events" -> raw,
      "q33_partials" -> PartialsShelf.partials(s, out)))(nm =>
      s"""WITH dp AS (
         | SELECT event_type, count(*) AS pn,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS pc
         | FROM ${nm("q33_events")}
         | WHERE ts > ${PartialsShelf.tsCutSql(raw, DedupOps.cutOf(out))}
         | GROUP BY event_type),
         |allp AS (
         | SELECT event_type, pn, pc FROM ${nm("q33_partials")}
         | UNION ALL
         | SELECT event_type, pn, pc FROM dp)
         |SELECT event_type, sum(pn) AS n_events,
         | round(CAST(sum(pc) AS DOUBLE) / 100, 2) AS sum_value
         |FROM allp GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q34: INCREMENTAL DISTINCT-COUNT maintenance — q33's
    * high-cardinality dual. COUNT(DISTINCT) has no exact fixed-size
    * per-key partial, so the state is one HLL sketch per key over the
    * history tranche, and the refresh sketches only the delta and
    * merges through `hll_union_agg` — bit-identical to single-pass
    * sketching (pinned in SketchGateSpec). Gated t32-style by
    * [[PartialsShelf.audit]]: the oracle hashes the exact per-key
    * distinct counts and the always-true in-bound flag. */
  def q34IncrementalDistinct(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.audit(s, dir,
      PartialsShelf.serve(s, dir, PartialsShelf.q34), lit(false))

  /** q35: q33's partials as a LIVING artifact — the delta's partials
    * APPEND into the artifact and `_CUT` advances, so each batch folds
    * in once. Gated by q33's oracle unchanged. */
  def q35AggAppend(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.q35)

  /** q36: q34's sketches as a living artifact, audited against q34's
    * oracle unchanged. */
  def q36SketchAppend(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.audit(s, dir,
      PartialsShelf.serve(s, dir, PartialsShelf.q36), lit(false))

  /** q37: COMPACT the sum artifact — t36's LSM major compaction on the
    * maintenance shelf: the generations fold to one row per key in one
    * relation-sized job, gated by q33's oracle unchanged (serve-before
    * ≡ serve-after pinned in PartialsCompactSpec). */
  def q37PartialsCompact(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.q37)

  /** q37 through the SQL-TEXT surface — the compacted-artifact serve as
    * ONE `spark.sql(...)` statement, gated by q33's oracle verbatim;
    * hygiene pinned in RelationalSpec. */
  def q37PartialsCompactSql(s: SparkSession, dir: String): DataFrame = {
    val out = PartialsShelf.stage(s, dir, PartialsShelf.q37)
    JobHistoryOps.withSqlViews(s, Seq(
      "q37_partials" -> PartialsShelf.partials(s, out)))(nm =>
      s"""SELECT event_type, sum(pn) AS n_events,
         | round(CAST(sum(pc) AS DOUBLE) / 100, 2) AS sum_value
         |FROM ${nm("q37_partials")}
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q38: COMPACT the sketch artifact — one `hll_union_agg` per key;
    * union-of-unions ≡ one union, so no estimate changes. */
  def q38SketchCompact(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.audit(s, dir,
      PartialsShelf.serve(s, dir, PartialsShelf.q38), lit(false))

  /** q39: RETRACTION from the living aggregate — a bad ingest window is
    * corrected by appending its NEGATED partials. Oracle: q33's
    * statistics over the corpus MINUS the window; a key whose every
    * event fell inside drops (ghost-key pin in PartialsCompactSpec). */
  def q39AggRetract(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.q39)

  /** q40: DELETION from the sketch shelf, gated — re-sketch only the
    * window's affected keys, serve the replacement-preferring merge,
    * audit over corpus-minus-window. */
  def q40SketchRetract(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.audit(s, dir,
      PartialsShelf.serve(s, dir, PartialsShelf.q40),
      PartialsShelf.window(s, dir, PartialsShelf.q40))

  /** q41: retention/TTL age-off on the sum shelf — the horizon advances
    * twice (a quarter, then half of the event-time span). Oracle: q33's
    * statistics over events above the second horizon. */
  def q41AggAgeOff(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.q41)

  /** q42: append AFTER deletion on the sketch shelf — re-sketch the
    * hash-even keys' window mid-ingest, absorb a later tranche of both
    * key classes through the resketch-aware append, audit over the
    * corpus minus (window ∧ hash-even keys). */
  def q42ResketchAppend(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.audit(s, dir,
      PartialsShelf.serve(s, dir, PartialsShelf.q42),
      PartialsShelf.window(s, dir, PartialsShelf.q42) && PartialsShelf.evenKey)

  /** q43: COMPACTION AFTER DELETION — q42's composition, then the
    * replacement-aware fold, which must be invisible: q42's oracle
    * verbatim (layout and re-enabled appends pinned in SketchGateSpec). */
  def q43ResketchCompact(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.audit(s, dir,
      PartialsShelf.serve(s, dir, PartialsShelf.q43),
      PartialsShelf.window(s, dir, PartialsShelf.q43) && PartialsShelf.evenKey)

  /** q44: EXTERNAL TAKEDOWN on the sum shelf — erase the staged list's
    * users. Oracle: q33's statistics over the events whose user
    * survives the list (`user_id % 7 <> 0`). List-keyed idempotence,
    * a second list and compaction pinned in PartialsCompactSpec. */
  def q44AggTakedown(s: SparkSession, dir: String): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.q44)

  /** The sum-shelf leg of the t47 fan-out: the SAME doc list every
    * member shelf erases, applied as erased principals (user ids) to
    * t47's own partials copy (q44's artifact stays untouched). */
  private[queries] def fanoutSumTakedown(s: SparkSession, dir: String,
      ids: DataFrame, tag: String = null): DataFrame =
    PartialsShelf.serve(s, dir, PartialsShelf.t47,
      ids.select(col("doc_id").as("user_id")), tag)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q42_resketch_append" -> (q42ResketchAppend _),
    "q43_resketch_compact" -> (q43ResketchCompact _),
    "q44_agg_takedown" -> (q44AggTakedown _),
    "q31_partition_prune" -> (q31PartitionPrune _),
    "q32_bucketed_join" -> (q32BucketedJoin _),
    "q33_incremental_agg" -> (q33IncrementalAgg _),
    "q33_incremental_agg_sql" -> (q33IncrementalAggSql _),
    "q34_incremental_distinct" -> (q34IncrementalDistinct _),
    "q35_agg_append" -> (q35AggAppend _),
    "q36_sketch_append" -> (q36SketchAppend _),
    "q37_partials_compact" -> (q37PartialsCompact _),
    "q37_partials_compact_sql" -> (q37PartialsCompactSql _),
    "q38_sketch_compact" -> (q38SketchCompact _),
    "q39_agg_retract" -> (q39AggRetract _),
    "q40_sketch_retract" -> (q40SketchRetract _),
    "q41_agg_ageoff" -> (q41AggAgeOff _),
    "q28_approx_percentiles" -> (q28ApproxPercentiles _),
    "q27_grouping_sets" -> (q27GroupingSets _),
    "q26_range_join" -> (q26RangeJoin _),
    "q25_above_avg" -> (q25AboveAvg _),
    "q24_unpivot" -> (q24Unpivot _),
    "q23_cube" -> (q23Cube _),
    "q22_asof_join" -> (q22AsofJoin _),
    "q21_range_frame" -> (q21RangeFrame _),
    "q20_percentiles" -> (q20Percentiles _),
    "q18_rollup" -> (q18Rollup _),
    "q19_sessionize" -> (q19Sessionize _),
    "q17_salted_agg" -> (q17SaltedAgg _),
    "q16_approx_distinct" -> (q16ApproxDistinct _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_filter_pushdown" -> (q2FilterPushdown _),
    "q3_join_broadcast" -> (q3JoinBroadcast _),
    "q4_semi_join" -> (q4SemiJoin _),
    "q5_anti_join" -> (q5AntiJoin _),
    "q6_last_write_wins" -> (q6LastWriteWins _),
    "q7_running_sum" -> (q7RunningSum _),
    "q8_topk" -> (q8TopK _),
    "q9_json_extract" -> (q9JsonExtract _),
    "q10_star_join" -> (q10StarJoin _),
    "q11_pivot_wide" -> (q11PivotWide _),
    "q12_interval_concurrency" -> (q12IntervalConcurrency _),
    "q13_set_except" -> (q13SetExcept _),
    "q14_count_distinct" -> (q14CountDistinct _),
    "q15_scalar_cross" -> (q15ScalarCross _),
    "q29_salted_join" -> (q29SaltedJoin _),
    "q30_window_ranks" -> (q30WindowRanks _))

  private val q33Oracle: String =
    """SELECT event_type, count(*) AS n_events,
      | round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
      |   / 100, 2) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // the oracle states the EXACT distinct counts and the always-true
  // audit flag; the merged HLL estimate is bound-checked engine-side
  // (t32's pattern — DuckDB cannot reproduce the DataSketches
  // register layout, and the exact counts are what maintenance must
  // approximate within its documented error)
  private val q34Oracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      | TRUE AS within_err
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    // the oracle states only the EXACT rank values + the always-true
    // bound flag; a sketch answer outside its guaranteed rank window
    // flips apx_ok engine-side and fails the hash (q16's pattern)
    "q28_approx_percentiles" ->
      """WITH r AS (
        | SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM events)
        |SELECT event_type, count(*) AS n,
        | max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
        |   THEN value END) AS p50,
        | max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
        |   THEN value END) AS p90,
        | true AS apx_ok
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, rflag, lstatus""".stripMargin,
    "q26_range_join" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |p AS (
        | SELECT a.user_id, b.us - a.us AS gap
        | FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |  AND b.us - a.us <= 600000000)
        |SELECT user_id, count(*) AS n_pairs, min(gap) AS min_gap_us,
        | max(gap) AS max_gap_us
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_asof_join" ->
      """WITH e AS (
        | SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        | FROM events),
        |w AS (
        | SELECT e.*,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END
        |    IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS asof_view_id,
        |  last_value(CASE WHEN event_type = 'view' THEN us END
        |    IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_us
        | FROM e)
        |SELECT event_id, user_id, asof_view_id, us - v_us AS asof_gap_us
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q21_range_frame" ->
      """SELECT event_id, user_id,
        | count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |   AS n_in_window
        |FROM events ORDER BY event_id""".stripMargin,
    "q20_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_above_avg" ->
      """SELECT o_orderpriority, count(*) AS n_above,
        | round(max(o_totalprice), 2) AS max_price
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(i.o_totalprice) FROM orders i
        |                      WHERE i.o_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_unpivot" ->
      """WITH w AS (
        | SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(sum(l_discount), 2) AS sum_disc
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, v
        |FROM w UNPIVOT (v FOR metric IN (sum_qty, sum_price, sum_disc))
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q23_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q18_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q19_sessionize" ->
      """WITH g AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
        |    AS prev
        | FROM events)
        |SELECT user_id,
        | CAST(sum(CASE WHEN prev IS NULL OR us - prev > 30 * 60 * 1000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        | count(*) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_salted_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_window_ranks" ->
      """SELECT event_id, event_type, user_id, value,
        | round(percent_rank() OVER w, 6) AS pr,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY event_type, user_id
        |  ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,
    // the layout is internal — the oracle aggregates the flat table
    "q31_partition_prune" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents WHERE source = 'src3'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the bucketing is internal — the oracle is the plain join
    "q32_bucketed_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        | round(sum(o.o_totalprice), 2) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the maintenance split is internal — the oracle is the one-pass
    // aggregate over the full table (same cent-exact statistics)
    "q33_incremental_agg" -> q33Oracle,
    // the SQL-text path must land on the identical refresh — one
    // oracle serves the DataFrame and text surfaces (§2.12's rule)
    "q33_incremental_agg_sql" -> q33Oracle,
    "q34_incremental_distinct" -> q34Oracle,
    // the write-back duals serve the SAME published result off the
    // APPENDED artifact — one oracle gates the read-only and living
    // formulations alike (the t33/t13 shared-oracle pattern)
    "q35_agg_append" -> q33Oracle,
    "q36_sketch_append" -> q34Oracle,
    // compaction must be invisible in the result: q37/q38 are gated
    // by the SAME full-table oracles as the append families they fold
    "q37_partials_compact" -> q33Oracle,
    // the text path serves the identical compacted aggregate
    "q37_partials_compact_sql" -> q33Oracle,
    "q38_sketch_compact" -> q34Oracle,
    // q39: q33's statistics over the corpus MINUS the retracted
    // window. Bounds in epoch NANOS with integer `//` division —
    // bit-for-bit the engine's Long arithmetic (q39Window), and
    // epoch_ns matches Tables' nanos normalization for BOTH shipped
    // ts encodings (micros × 1000 is exact)
    "q39_agg_retract" ->
      """WITH b AS (
        | SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
        | FROM events)
        |SELECT event_type, count(*) AS n_events,
        | round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |   / 100, 2) AS sum_value
        |FROM events, b
        |WHERE NOT (epoch_ns(ts) > lo + ((hi - lo) * 2) // 5
        |       AND epoch_ns(ts) <= lo + ((hi - lo) * 3) // 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q40: q34's exact-counts-beside-audit shape over the corpus MINUS
    // q39's window; the re-sketched estimates are bound-checked
    // engine-side (DuckDB cannot reproduce the register layout)
    "q40_sketch_retract" ->
      """WITH b AS (
        | SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
        | FROM events)
        |SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS within_err
        |FROM events, b
        |WHERE NOT (epoch_ns(ts) > lo + ((hi - lo) * 2) // 5
        |       AND epoch_ns(ts) <= lo + ((hi - lo) * 3) // 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q41: q33's statistics over events ABOVE the second age-off
    // horizon (the two horizons compose; integer // matches the
    // engine's Long arithmetic)
    "q41_agg_ageoff" ->
      """WITH b AS (
        | SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
        | FROM events)
        |SELECT event_type, count(*) AS n_events,
        | round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |   / 100, 2) AS sum_value
        |FROM events, b
        |WHERE epoch_ns(ts) > lo + (hi - lo) // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q42: exact distinct counts over the corpus minus (q39's window ∧
    // the hash-even affected keys) — the post-resketch tranche counts
    // on BOTH key classes (the composition q40's read dropped); the
    // resketch-aware merge is bound-checked engine-side
    "q42_resketch_append" ->
      """WITH b AS (
        | SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
        | FROM events)
        |SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS within_err
        |FROM events, b
        |WHERE NOT (epoch_ns(ts) > lo + ((hi - lo) * 2) // 5
        |       AND epoch_ns(ts) <= lo + ((hi - lo) * 3) // 5
        |       AND ('0x' || substr(md5(event_type), 1, 8))::BIGINT
        |           % 2 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q43: the replacement-aware compaction must be INVISIBLE —
    // q42's oracle verbatim (what changes is the layout/read, pinned
    // in SketchGateSpec)
    "q43_resketch_compact" ->
      """WITH b AS (
        | SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
        | FROM events)
        |SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS within_err
        |FROM events, b
        |WHERE NOT (epoch_ns(ts) > lo + ((hi - lo) * 2) // 5
        |       AND epoch_ns(ts) <= lo + ((hi - lo) * 3) // 5
        |       AND ('0x' || substr(md5(event_type), 1, 8))::BIGINT
        |           % 2 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q44: the staged list erases every in-range user_id divisible by
    // 7 (the absent and repeated ids are no-ops on both sides), so
    // the surviving aggregate is q33's statistics over the other users
    "q44_agg_takedown" ->
      """SELECT event_type, count(*) AS n_events,
        | round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |   / 100, 2) AS sum_value
        |FROM events
        |WHERE user_id % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the salt is internal — the oracle is the plain unsalted join
    "q29_salted_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        | round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_filter_pushdown" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.09 AND l_quantity < 24""".stripMargin,
    "q3_join_broadcast" ->
      """SELECT c_mktsegment,
        | round(sum(o_totalprice), 2) AS total_spend,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_semi_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_last_write_wins" ->
      """SELECT user_id, last_type, last_value, last_ts_us FROM (
        | SELECT user_id, event_type AS last_type,
        |  round(value, 2) AS last_value, epoch_us(ts) AS last_ts_us,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q7_running_sum" ->
      """SELECT event_id, user_id,
        | round(sum(value) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |   AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q8_topk" ->
      """SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1
        |ORDER BY round(sum(o_totalprice), 2) DESC, o_custkey LIMIT 10""".stripMargin,
    "q9_json_extract" ->
      """SELECT event_type,
        | CAST(sum(coalesce(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT), 0))
        |   AS BIGINT) AS sum_k,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_star_join" ->
      """SELECT r_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_pivot_wide" ->
      """SELECT epoch_us(ts) // 86400000000 AS day,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_interval_concurrency" ->
      """WITH iv AS (
        | SELECT epoch_us(ts) // 60000000 AS lo,
        |  greatest((epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT)) // 60000000,
        |   epoch_us(ts) // 60000000) AS hi
        | FROM events),
        |b AS (SELECT min(lo) AS mn, max(hi) AS mx FROM iv),
        |spine AS (SELECT unnest(generate_series(mn, mx)) AS t FROM b),
        |x AS (SELECT unnest(generate_series(lo, hi)) AS t FROM iv),
        |c AS (SELECT t, count(*) AS n_raw FROM x GROUP BY t)
        |SELECT spine.t AS t, coalesce(c.n_raw, 0) AS n
        |FROM spine LEFT JOIN c ON spine.t = c.t ORDER BY t""".stripMargin,
    "q13_set_except" ->
      """SELECT o_custkey FROM (
        | SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
        | EXCEPT
        | SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY o_custkey""".stripMargin,
    "q14_count_distinct" ->
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        | count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The estimate itself is engine-specific; the gate checks the
    // exact counts plus the within-10% flag Spark computed against
    // its own HLL estimate (TRUE here = "the sketch must be sane").
    "q16_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        | count(*) AS n_events, TRUE AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_scalar_cross" ->
      """WITH tot AS (
        | SELECT count(*) AS total_n,
        |  epoch_us(min(o_orderdate)) AS first_us,
        |  epoch_us(max(o_orderdate)) AS last_us
        | FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        | round(count(*) / CAST(any_value(tot.total_n) AS DOUBLE), 6) AS frac,
        | any_value(tot.first_us) AS first_us,
        | any_value(tot.last_us) AS last_us
        |FROM orders, tot GROUP BY 1 ORDER BY 1""".stripMargin)
}
