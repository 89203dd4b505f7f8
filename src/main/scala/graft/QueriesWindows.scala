package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GlobalOrdered, Windows}

/** Window / ordered operator queries (SURVEY.md §2.5). Every entry
  * orders by a unique key so results are deterministic across engines.
  */
object QueriesWindows {
  import Queries.{Entry, Q}

  private def dt(s: SparkSession, dir: String, t: String) = DT(s, dir, t)

  // Shared ordering: orders per customer by (orderdate, orderkey).
  private val ordCols = Seq(col("o_orderdate").asc, col("o_orderkey").asc)

  def entries: Seq[Entry] = Seq(

    // ---- shift lag/lead (src/shift.c) ----------------------------------
    ("q_shift", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("prev_price", Windows.shift(col("o_totalprice"), 1,
          Seq("o_custkey"), ordCols, lit(0.0)))
        .withColumn("next_price", Windows.shift(col("o_totalprice"), -1,
          Seq("o_custkey"), ordCols, lit(0.0)))
        .select(col("o_orderkey"), col("prev_price"), col("next_price"))): Q,
      Some("""SELECT o_orderkey,
             |  coalesce(lag(o_totalprice) OVER w, 0.0) AS prev_price,
             |  coalesce(lead(o_totalprice) OVER w, 0.0) AS next_price
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // ---- shift cyclic (src/shift.c:25) ---------------------------------
    ("q_shift_cyclic", ((s, dir) =>
      Windows.shiftCyclic(
        dt(s, dir, "events")(col("event_type") === "signup").df
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "value", 1, Seq("user_id"), Seq(col("ts").asc, col("event_id").asc), "wrapped")
        .select(col("event_id"), col("wrapped"))): Q,
      Some("""SELECT event_id,
             |  coalesce(lag(value) OVER w,
             |    last_value(value) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS wrapped
             |FROM events WHERE event_type = 'signup'
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // ---- frank ties.method=min/dense/first (src/frank.c) ---------------
    ("q_rank", ((s, dir) => {
      val base = dt(s, dir, "customer").df
      val o = Seq(col("c_nationkey").asc, col("c_custkey").asc)
      val r1 = Windows.frank(base, Seq(col("c_nationkey").asc), Seq(col("c_nationkey")),
        "min", Seq("c_mktsegment"), "rk_min")
      val r2 = Windows.frank(r1, Seq(col("c_nationkey").asc), Seq(col("c_nationkey")),
        "dense", Seq("c_mktsegment"), "rk_dense")
      val r3 = Windows.frank(r2, o, Seq(col("c_nationkey"), col("c_custkey")),
        "first", Seq("c_mktsegment"), "rk_first")
      r3.select(col("c_custkey"), col("rk_min"), col("rk_dense"), col("rk_first"))
    }): Q,
      Some("""SELECT c_custkey,
             |  rank() OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey) AS rk_min,
             |  dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey) AS rk_dense,
             |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey, c_custkey) AS rk_first
             |FROM customer""".stripMargin)),

    // ---- frank ties.method=average (reference default) -----------------
    ("q_frank_avg", ((s, dir) =>
      Windows.frank(dt(s, dir, "customer").df,
        Seq(col("c_nationkey").asc), Seq(col("c_nationkey")),
        "average", Seq("c_mktsegment"), "rk")
        .select(col("c_custkey"), col("rk").cast("double").as("rk"))): Q,
      Some("""SELECT c_custkey, avg(rn) OVER (PARTITION BY c_mktsegment, c_nationkey) AS rk
             |FROM (SELECT c_custkey, c_mktsegment, c_nationkey,
             |        row_number() OVER (PARTITION BY c_mktsegment
             |          ORDER BY c_nationkey, c_custkey) AS rn
             |      FROM customer)""".stripMargin)),

    // ---- frank ties.method=last (src/frank.c:112-123 7-method enum) ----
    ("q_frank_last", ((s, dir) =>
      Windows.frank(dt(s, dir, "customer").df,
        Seq(col("c_nationkey").asc), Seq(col("c_nationkey")),
        "last", Seq("c_mktsegment"), "rk_last",
        appearance = Seq(col("c_custkey").asc))
        .select(col("c_custkey"), col("rk_last"))): Q,
      Some("""SELECT c_custkey,
             |  row_number() OVER (PARTITION BY c_mktsegment
             |    ORDER BY c_nationkey, c_custkey DESC) AS rk_last
             |FROM customer""".stripMargin)),

    // ---- frank na.last="keep" (R/frank.R:1 default NA handling) --------
    ("q_frank_na", ((s, dir) =>
      Windows.frankNa(
        dt(s, dir, "events").df
          .withColumn("v", when(col("event_type") === "error", lit(null))
            .otherwise(col("value"))),
        col("v"), desc = false, ties = "min", by = Seq("user_id"),
        naLast = "keep", out = "rk")
        // double, not int: an int-with-nulls column round-trips through
        // pandas as EITHER Int64 or float64 depending on the reader —
        // double is unambiguous on both sides of the driver's hash.
        .select(col("event_id"), col("rk").cast("double").as("rk"))): Q,
      Some("""SELECT event_id,
             |  CASE WHEN v IS NULL THEN NULL ELSE
             |    rank() OVER (PARTITION BY user_id ORDER BY v ASC NULLS LAST)
             |  END ::DOUBLE AS rk
             |FROM (SELECT event_id, user_id,
             |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             |      FROM events)""".stripMargin)),

    // ---- frank(order=-1) reverse ranking on a Date column (#5489):
    // the reference intercepts `frank(-dates)` because unary minus is
    // undefined for Date/character; here descending order is a
    // first-class sort direction, same capability -------------------------
    ("q_frank_desc", ((s, dir) =>
      Windows.frank(dt(s, dir, "orders").df,
        Seq(col("o_orderdate").desc), Seq(col("o_orderdate")),
        "dense", Seq("o_orderpriority"), "rk")
        .select(col("o_orderkey"), col("rk"))): Q,
      Some("""SELECT o_orderkey,
             |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_orderdate DESC) AS INT) AS rk
             |FROM orders""".stripMargin)),

    // ---- rleid gaps-and-islands (src/uniqlist.c:170) -------------------
    ("q_rleid", ((s, dir) =>
      Windows.rleid(dt(s, dir, "events").df, Seq("event_type"),
        Seq(col("ts").asc, col("event_id").asc), Seq("user_id"), "run_id")
        .select(col("event_id"), col("run_id"))): Q,
      Some("""SELECT event_id,
             |  CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
             |FROM (SELECT event_id, user_id, ts, event_type,
             |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |      FROM events)""".stripMargin)),

    // ---- .GRP group counter (R/data.table.R dogroups) ------------------
    // scale shape: dense_rank runs over the DISTINCT key set only and
    // broadcast-joins back — the data never funnels into one partition
    ("q_grp", ((s, dir) =>
      Windows.grp(dt(s, dir, "events").df, Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("grp").cast("long").as("grp"))): Q,
      Some("""SELECT event_id, event_type,
             |  dense_rank() OVER (ORDER BY event_type ASC) AS grp
             |FROM events""".stripMargin)),

    // ---- .NGRP total-group counter (R/data.table.R dogroups) -----------
    // Same scale shape as .GRP: the distinct-key aggregation is the
    // only shuffle and the 1-row count broadcasts back.
    ("q_ngrp", ((s, dir) =>
      Windows.ngrp(Windows.grp(dt(s, dir, "events").df, Seq("event_type")),
          Seq("event_type"))
        .select(col("event_id"), col("grp").cast("long").as("grp"),
          col("ngrp"))): Q,
      Some("""SELECT e.event_id,
             |  dense_rank() OVER (ORDER BY e.event_type ASC) AS grp,
             |  n.ngrp
             |FROM events e
             |-- null-INCLUSIVE distinct count: ngrp counts an all-NA key
             |-- as a group (reference by= semantics); count(DISTINCT c)
             |-- would drop it and only agree on null-free data
             |CROSS JOIN (SELECT count(*) AS ngrp FROM
             |            (SELECT DISTINCT event_type FROM events)) n""".stripMargin)),

    // ---- froll with VECTOR n (frollmean(x, n=c(3, 7))) -----------------
    ("q_froll_vector", ((s, dir) =>
      Windows.frollN(dt(s, dir, "events").df, "m", "mean", col("value"),
          Seq(3, 7), Seq("user_id"), Seq(col("ts").asc, col("event_id").asc))
        .select(col("event_id"), round(col("m3"), 3).as("m3"),
          round(col("m7"), 3).as("m7"))): Q,
      Some("""SELECT event_id,
             |  CASE WHEN count(value) OVER w3 = 3
             |       THEN round(avg(value) OVER w3, 3) END AS m3,
             |  CASE WHEN count(value) OVER w7 = 7
             |       THEN round(avg(value) OVER w7, 3) END AS m7
             |FROM events
             |WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
             |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             |       w7 AS (PARTITION BY user_id ORDER BY ts, event_id
             |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- rowid within dup group (R/data.table.R:3267) ------------------
    ("q_rowid", ((s, dir) =>
      Windows.rowid(dt(s, dir, "events").df, Seq("user_id", "event_type"),
        Seq(col("ts").asc, col("event_id").asc), "seq")
        .select(col("event_id"), col("seq"))): Q,
      Some("""SELECT event_id, row_number() OVER
             |  (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS seq
             |FROM events""".stripMargin)),

    // ---- cumulative sum (free frame op) --------------------------------
    ("q_cumsum", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("running", round(Windows.cum("sum", col("o_totalprice"),
          Seq("o_custkey"), ordCols), 3))
        .select(col("o_orderkey"), col("running"))): Q,
      Some("""SELECT o_orderkey, round(sum(o_totalprice) OVER
             |  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |   ROWS UNBOUNDED PRECEDING), 3) AS running
             |FROM orders""".stripMargin)),

    // ---- cumprod, exact-FP tier (bounded series; the log-space tier is
    // the scale default, spec-verified with tolerance) -------------------
    // values ∈ {1,-1,2} keep every prefix product an exact ±2^k, so the
    // result is independent of multiplication order (engines' window
    // product algorithms associate differently — a raw-double product
    // diverged by 1 ulp)
    ("q_cumprod", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("x", when(col("o_orderkey") % 3 === 0, 1.0)
          .when(col("o_orderkey") % 3 === 1, -1.0).otherwise(2.0))
        .withColumn("cp", Windows.cum("prod_exact", col("x"),
          Seq("o_custkey"), ordCols))
        .select(col("o_orderkey"), col("cp"))): Q,
      Some("""SELECT o_orderkey, product(CASE o_orderkey % 3
             |    WHEN 0 THEN 1.0::DOUBLE WHEN 1 THEN -1.0::DOUBLE
             |    ELSE 2.0::DOUBLE END) OVER
             |  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |   ROWS UNBOUNDED PRECEDING) AS cp
             |FROM orders""".stripMargin)),

    // ---- gtail: last-k per group (src/gsumm.c:1004-1018) ---------------
    ("q_tail_sd", ((s, dir) =>
      dt(s, dir, "orders").tailK(Seq("o_custkey"), ordCols, 2)
        .df.filter(col("o_custkey") <= 10)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))): Q,
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |  FROM orders) WHERE rn <= 2 AND o_custkey <= 10""".stripMargin)),

    // ---- frollmean partial=TRUE (incomplete leading windows kept) ------
    ("q_froll_partial", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("p5", round(Windows.froll("sum", col("o_totalprice"), 5,
          Seq("o_custkey"), ordCols, partial = true), 3))
        .select(col("o_orderkey"), col("p5"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(o_totalprice) OVER w5 = count(*) OVER w5
             |       THEN round(sum(o_totalprice) OVER w5, 3) END AS p5
             |FROM orders
             |WINDOW w5 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollmean fixed window, partial=FALSE (src/froll.c) -----------
    ("q_froll_mean", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("r7", round(Windows.froll("mean", col("o_totalprice"), 7,
          Seq("o_custkey"), ordCols), 3))
        .select(col("o_orderkey"), col("r7"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w7 = 7
             |       THEN round(avg(o_totalprice) OVER w7, 3) END AS r7
             |FROM orders
             |WINDOW w7 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- froll algo="fast": O(1)-per-row prefix-difference rolling sum
    // (src/froll.c:13-24) — the big-window tier; Spark's sliding frame
    // re-aggregates O(n) per row. Cents-scaled integers so the prefix
    // difference is exact and the oracle's plain windowed sum matches
    // bit-for-bit. ------------------------------------------------------
    ("q_froll_fast", ((s, dir) => {
      // o_orderkey is unique, so the window order is total — lineitem's
      // (orderkey, linenumber) is NOT unique in the synthetic data and
      // would leave the frames engine-ambiguous
      val df = dt(s, dir, "orders").df
        .withColumn("pc", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      Windows.frollFast(df, "rs", "sum", col("pc"), 30,
        Seq("o_orderstatus"), Seq(col("o_orderkey").asc))
        .select(col("o_orderkey"), col("o_orderstatus"), col("rs"))
    }): Q,
      Some("""SELECT o_orderkey, o_orderstatus,
             |  CASE WHEN row_number() OVER
             |         (PARTITION BY o_orderstatus ORDER BY o_orderkey) >= 30
             |       THEN CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER
             |            (PARTITION BY o_orderstatus ORDER BY o_orderkey
             |             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
             |  END AS rs
             |FROM orders""".stripMargin)),

    // ---- frollsum align="center" ---------------------------------------
    ("q_froll_center", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("c5", round(Windows.froll("sum", col("o_totalprice"), 5,
          Seq("o_custkey"), ordCols, align = "center"), 3))
        .select(col("o_orderkey"), col("c5"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER wc = 5
             |       THEN round(sum(o_totalprice) OVER wc, 3) END AS c5
             |FROM orders
             |WINDOW wc AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""".stripMargin)),

    // ---- frollsd / frollvar / frollmin / frollmax ----------------------
    ("q_froll_sdvar", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("sd5", round(Windows.froll("sd", col("o_totalprice"), 5,
          Seq("o_custkey"), ordCols), 3))
        .withColumn("mn5", Windows.froll("min", col("o_totalprice"), 5,
          Seq("o_custkey"), ordCols))
        .withColumn("mx5", Windows.froll("max", col("o_totalprice"), 5,
          Seq("o_custkey"), ordCols))
        .select(col("o_orderkey"), col("sd5"), col("mn5"), col("mx5"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w5 = 5
             |       THEN round(stddev_samp(o_totalprice) OVER w5, 3) END AS sd5,
             |  CASE WHEN count(*) OVER w5 = 5 THEN min(o_totalprice) OVER w5 END AS mn5,
             |  CASE WHEN count(*) OVER w5 = 5 THEN max(o_totalprice) OVER w5 END AS mx5
             |FROM orders
             |WINDOW w5 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollmedian (array-frame path) --------------------------------
    ("q_froll_median", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("med5", round(Windows.froll("median", col("o_totalprice"), 5,
          Seq("o_custkey"), ordCols), 3))
        .select(col("o_orderkey"), col("med5"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w5 = 5
             |       THEN round(median(o_totalprice) OVER w5, 3) END AS med5
             |FROM orders
             |WINDOW w5 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollsum adaptive (src/frolladaptive.c) -----------------------
    // Per-row window length: 2 + (o_orderkey mod 3) rows, bounded by 4.
    ("q_froll_adaptive", ((s, dir) =>
      dt(s, dir, "orders").df
        .withColumn("an", (col("o_orderkey") % 3 + 2).cast("int"))
        .withColumn("asum", round(Windows.frollAdaptive("sum", col("o_totalprice"),
          col("an"), 4, Seq("o_custkey"), ordCols), 3))
        .select(col("o_orderkey"), col("asum"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER wmax >= an THEN
             |    round(CASE
             |      WHEN an = 2 THEN sum(o_totalprice) OVER w2
             |      WHEN an = 3 THEN sum(o_totalprice) OVER w3
             |      ELSE sum(o_totalprice) OVER w4 END, 3) END AS asum
             |FROM (SELECT *, CAST(o_orderkey % 3 + 2 AS INT) AS an FROM orders)
             |WINDOW
             |  wmax AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
             |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
             |  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             |  w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frolladapt (R/froll.R:123, NEWS #3241): calendar-width
    // rolling over an irregular time series — the adaptive-n counts
    // come from a native rangeBetween count, then feed the adaptive
    // rolling sum; the oracle is DuckDB's RANGE frame directly --------
    // Time axis is exact integer MICROSECONDS on both sides
    // (unix_micros / epoch_us): unix_timestamp() truncates to whole
    // seconds, which at sf0.1 pulled rows 86399.7 s back inside an
    // "86399 s preceding" frame that the fractional-epoch oracle
    // excludes — second-truncation vs fractional-seconds is a real
    // semantic difference, not noise, so both sides use exact micros.
    ("q_frolladapt", ((s, dir) =>
      dt(s, dir, "events").df
        .withColumn("t", unix_micros(col("ts")))
        .withColumn("an", Windows.frolladapt(col("t"), 86400000000L, Seq("user_id")))
        .withColumn("daysum", round(Windows.frollAdaptive("sum", col("value"),
          col("an"), 32, Seq("user_id"), Seq(col("t").asc)), 3))
        .select(col("event_id"), col("an"), col("daysum"))): Q,
      Some("""SELECT event_id,
             |  CAST(count(*) OVER wr AS INT) AS an,
             |  round(sum(value) OVER wr, 3) AS daysum
             |FROM events
             |WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |              RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- rolling correlation (multi-column frollapply analog) ----------
    ("q_froll_corr", ((s, dir) => {
      val o = Seq(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_partkey").asc)
      val w8 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey")).orderBy(o: _*).rowsBetween(-7, 0)
      // corr from covar/stddev builtins: the native corr window divides
      // internally and throws under ANSI on zero-variance frames (the
      // when() guard can't help — window exprs evaluate before the
      // projection). Identical formula on the oracle side ⇒ identical FP.
      val sx = stddev_samp(col("l_quantity")).over(w8)
      val sy = stddev_samp(col("l_extendedprice")).over(w8)
      val cv = covar_samp(col("l_quantity"), col("l_extendedprice")).over(w8)
      val ok = count(lit(1)).over(w8) === 8 && sx > 0 && sy > 0
      // `+ 0.0` canonicalizes IEEE -0.0 to +0.0: DuckDB's round keeps the
      // sign bit on tiny negatives while Spark's BigDecimal round drops it,
      // which flips the driver's value hash despite numeric equality.
      dt(s, dir, "lineitem").df
        .withColumn("c8", round(when(ok, cv / (sx * sy)), 3) + lit(0.0))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("c8"))
    }): Q,
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |  round(CASE WHEN count(*) OVER w8 = 8
             |              AND stddev_samp(l_quantity) OVER w8 > 0
             |              AND stddev_samp(l_extendedprice) OVER w8 > 0
             |        THEN covar_samp(l_quantity, l_extendedprice) OVER w8
             |             / (stddev_samp(l_quantity) OVER w8
             |                * stddev_samp(l_extendedprice) OVER w8) END, 3) + 0.0 AS c8
             |FROM lineitem
             |WINDOW w8 AS (PARTITION BY l_suppkey
             |              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
             |              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- nafill locf (src/nafill.c) ------------------------------------
    ("q_nafill_locf", ((s, dir) =>
      dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .withColumn("filled", Windows.nafillLocf(col("v"),
          Seq("user_id"), Seq(col("ts").asc, col("event_id").asc)))
        .select(col("event_id"), col("filled"))): Q,
      Some("""SELECT event_id,
             |  last_value(v IGNORE NULLS) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id
             |     ROWS UNBOUNDED PRECEDING) AS filled
             |FROM (SELECT event_id, user_id, ts,
             |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             |      FROM events)""".stripMargin)),

    // ---- nafill nocb ----------------------------------------------------
    ("q_nafill_nocb", ((s, dir) =>
      dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .withColumn("filled", Windows.nafillNocb(col("v"),
          Seq("user_id"), Seq(col("ts").asc, col("event_id").asc)))
        .select(col("event_id"), col("filled"))): Q,
      Some("""SELECT event_id,
             |  first_value(v IGNORE NULLS) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id
             |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS filled
             |FROM (SELECT event_id, user_id, ts,
             |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             |      FROM events)""".stripMargin)),

    // ---- nafill on a CHARACTER column (in-dev NEWS #3992: nafill
    // extended beyond numerics to logical/character/Date). The Spark
    // tier is type-generic by construction (last/first IGNORE NULLS
    // and coalesce bind any type); this query pins the string path
    // through the oracle ---------------------------------------------------
    ("q_nafill_str", ((s, dir) =>
      dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null))
          .otherwise(col("event_type")))
        .withColumn("filled", Windows.nafillConst(
          Windows.nafillLocf(col("v"),
            Seq("user_id"), Seq(col("ts").asc, col("event_id").asc)),
          lit("none")))
        .select(col("event_id"), col("filled"))): Q,
      Some("""SELECT event_id,
             |  coalesce(last_value(v IGNORE NULLS) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id
             |     ROWS UNBOUNDED PRECEDING), 'none') AS filled
             |FROM (SELECT event_id, user_id, ts,
             |        CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS v
             |      FROM events)""".stripMargin)),

    // ---- froll na.rm=TRUE (src/froll.c narm; froll.Rraw 6000.066) ------
    // NA and NaN are both synthesized (no nulls/NaNs in the raw data)
    // and both count as MISSING: mean averages the survivors, sum takes
    // 0 on an all-missing full window, mean takes NaN (the driver hash
    // stringifies double NULL and NaN identically, and the oracle
    // mirrors the conventions explicitly anyway).
    ("q_froll_narm", ((s, dir) =>
      dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null))
          .when(col("event_type") === "purchase", lit(Double.NaN))
          .otherwise(col("value")))
        .withColumn("m3", round(Windows.froll("mean", col("v"), 3,
          Seq("user_id"), Seq(col("ts").asc, col("event_id").asc),
          naRm = true), 3))
        .withColumn("s3", round(Windows.froll("sum", col("v"), 3,
          Seq("user_id"), Seq(col("ts").asc, col("event_id").asc),
          naRm = true), 3))
        .select(col("event_id"), col("m3"), col("s3"))): Q,
      Some("""SELECT event_id,
             |  CASE WHEN count(*) OVER w3 = 3
             |       THEN round(coalesce(avg(v) OVER w3, 'NaN'::DOUBLE), 3) END AS m3,
             |  CASE WHEN count(*) OVER w3 = 3
             |       THEN round(coalesce(sum(v) OVER w3, 0.0), 3) END AS s3
             |FROM (SELECT event_id, user_id, ts,
             |        CASE WHEN event_type IN ('error', 'purchase') THEN NULL
             |             ELSE value END AS v
             |      FROM events)
             |WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
             |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- nafill nan=NA default (src/nafill.c nan_is_na) ----------------
    // NaN values get carried OVER like NA under the reference default;
    // the oracle nulls both synthesized shapes before its IGNORE NULLS
    // carry, proving the engine's NaN handling equals SQL-null handling.
    ("q_nafill_nan", ((s, dir) =>
      dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null))
          .when(col("event_type") === "purchase", lit(Double.NaN))
          .otherwise(col("value")))
        .withColumn("filled", Windows.nafillLocf(col("v"),
          Seq("user_id"), Seq(col("ts").asc, col("event_id").asc)))
        .select(col("event_id"), col("filled"))): Q,
      Some("""SELECT event_id,
             |  last_value(v IGNORE NULLS) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id
             |     ROWS UNBOUNDED PRECEDING) AS filled
             |FROM (SELECT event_id, user_id, ts,
             |        CASE WHEN event_type IN ('error', 'purchase') THEN NULL
             |             ELSE value END AS v
             |      FROM events)""".stripMargin)),

    // ---- frollapply analog: window array + higher-order fn -------------
    // Range (max-min) over the trailing 4-row window.
    ("q_frollapply", ((s, dir) => {
      val arr = Windows.frollWindowArray(col("o_totalprice"), 4,
        Seq("o_custkey"), ordCols)
      dt(s, dir, "orders").df
        .withColumn("rng", when(size(arr) === 4,
          round(array_max(arr) - array_min(arr), 3)))
        .select(col("o_orderkey"), col("rng"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w4 = 4
             |       THEN round(max(o_totalprice) OVER w4 - min(o_totalprice) OVER w4, 3)
             |  END AS rng
             |FROM orders
             |WINDOW w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollapply with an ARBITRARY JVM closure (R/frollapply.R FUN) -
    // the full-generality tier: the same rolling range as q_frollapply,
    // but computed by a Scala closure over the materialized frame —
    // shares that query's oracle verbatim (same semantics, different
    // execution tier, exactly like the bloom/exact pairs)
    ("q_frollapply_udf", ((s, dir) => {
      val f = (rows: Seq[org.apache.spark.sql.Row]) => {
        val vs = rows.map(_.getDouble(0))
        // mirror Spark round(x, 3): HALF_UP on the shortest decimal form
        java.math.BigDecimal.valueOf(vs.max - vs.min)
          .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      Windows.frollApplyF(dt(s, dir, "orders").df, "rng",
        Seq("p" -> col("o_totalprice")), 4, Seq("o_custkey"), ordCols, f,
        org.apache.spark.sql.types.DoubleType)
        .select(col("o_orderkey"), col("rng"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w4 = 4
             |       THEN round(max(o_totalprice) OVER w4 - min(o_totalprice) OVER w4, 3)
             |  END AS rng
             |FROM orders
             |WINDOW w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollapply fill= (R/frollapply.R simplifylist) ----------------
    // Same closure as q_frollapply_udf, but incomplete leading windows
    // take fill=-1 instead of NA — fill pads ONLY incomplete positions
    // and is coerced to the answer type (reference tests 6001.282-297).
    ("q_frollapply_fill", ((s, dir) => {
      val f = (rows: Seq[org.apache.spark.sql.Row]) => {
        val vs = rows.map(_.getDouble(0))
        java.math.BigDecimal.valueOf(vs.max - vs.min)
          .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      Windows.frollApplyF(dt(s, dir, "orders").df, "rng",
        Seq("p" -> col("o_totalprice")), 4, Seq("o_custkey"), ordCols, f,
        org.apache.spark.sql.types.DoubleType, fill = lit(-1))
        .select(col("o_orderkey"), col("rng"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w4 = 4
             |       THEN round(max(o_totalprice) OVER w4 - min(o_totalprice) OVER w4, 3)
             |       ELSE -1.0
             |  END AS rng
             |FROM orders
             |WINDOW w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollapply by.column × vector-n, give.names --------------------
    // One closure over EACH of two columns at widths 2 and 4, reference
    // <col>_rollapply_<n> names — all four outputs ride one window sort.
    // Cents-scaled integer sums keep both engines exact.
    ("q_frollapply_each", ((s, dir) => {
      val f = (rows: Seq[org.apache.spark.sql.Row]) =>
        rows.map(r => math.round(r.getDouble(0) * 100)).sum
      Windows.frollApplyEach(dt(s, dir, "orders").df,
        Seq("price" -> col("o_totalprice"), "key" -> col("o_orderkey").cast("double")),
        Seq(2, 4), Seq("o_custkey"), ordCols, f,
        org.apache.spark.sql.types.LongType)
        .select(col("o_orderkey"), col("price_rollapply_2"),
          col("price_rollapply_4"), col("key_rollapply_2"),
          col("key_rollapply_4"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CAST(CASE WHEN count(*) OVER w2 = 2
             |       THEN sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w2
             |  END AS BIGINT) AS price_rollapply_2,
             |  CAST(CASE WHEN count(*) OVER w4 = 4
             |       THEN sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w4
             |  END AS BIGINT) AS price_rollapply_4,
             |  CAST(CASE WHEN count(*) OVER w2 = 2
             |       THEN sum(o_orderkey * 100) OVER w2
             |  END AS BIGINT) AS key_rollapply_2,
             |  CAST(CASE WHEN count(*) OVER w4 = 4
             |       THEN sum(o_orderkey * 100) OVER w4
             |  END AS BIGINT) AS key_rollapply_4
             |FROM orders
             |WINDOW
             |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
             |  w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- frollapply over a MULTI-COLUMN frame (R/frollapply.R .SD) -----
    // Rolling 4-row weighted mean: the frame carries (price, qty) structs
    // — a closure over two columns, inexpressible with a single-column
    // frame. (l_orderkey, l_linenumber, l_partkey) is unique within a
    // supplier, so the frame order is deterministic.
    ("q_frollapply_multi", ((s, dir) => {
      val ord = Seq(col("l_orderkey").asc, col("l_linenumber").asc, col("l_partkey").asc)
      val fr = Windows.frollWindowStructs(
        Seq("p" -> col("l_extendedprice"), "q" -> col("l_quantity")),
        4, Seq("l_suppkey"), ord)
      // prices are exact cents and quantities exact integers: the frame
      // sums run in scaled-int space (order-independent, both engines
      // exact), so the final double division sees identical inputs
      // prices are exact cents, quantities exact integers: frame sums in
      // scaled-int space, and the 3-dp rounding is explicit integer
      // half-up division — engine round() on half-way decimals diverges
      // (Spark rounds the shortest-decimal form, DuckDB the binary one)
      val num = aggregate(fr, lit(0L), (a, x) =>
        a + round(x.getField("p") * 100).cast("long") * x.getField("q").cast("long"))
      val den = aggregate(fr, lit(0L), (a, x) => a + x.getField("q").cast("long"))
      dt(s, dir, "lineitem").df
        .withColumn("_num", num).withColumn("_den", den)
        .withColumn("wm", when(size(fr) === 4,
          expr("(20 * _num + _den) div (2 * _den)").cast("double") / 1000.0))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("wm"))
    }): Q,
      Some("""WITH f AS (
             |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |        * CAST(l_quantity AS BIGINT)) OVER w4 AS num,
             |    sum(CAST(l_quantity AS BIGINT)) OVER w4 AS den,
             |    count(*) OVER w4 AS c
             |  FROM lineitem
             |  WINDOW w4 AS (PARTITION BY l_suppkey
             |                ORDER BY l_orderkey, l_linenumber, l_partkey
             |                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
             |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |  CASE WHEN c = 4
             |       THEN ((20 * num + den) // (2 * den))::DOUBLE / 1000.0
             |  END AS wm
             |FROM f""".stripMargin)),

    // ---- ADAPTIVE frollapply (src/frollapply.c × src/frolladaptive.c) --
    // Arbitrary fold over the PER-ROW-LENGTH frame: rolling sum of
    // squares (not in the fixed frollAdaptive fn set) over an = key%3+2
    // rows. Cents-scaled integer fold — exact on both engines, no FP
    // summation-order hazard; rows with fewer than `an` rows available
    // yield null (reference NA).
    ("q_frollapply_adaptive", ((s, dir) => {
      val arr = Windows.frollApplyAdaptive(col("o_totalprice"), col("an"), 4,
        Seq("o_custkey"), ordCols)
      def cents(x: org.apache.spark.sql.Column) = round(x * 100).cast("long")
      dt(s, dir, "orders").df
        .withColumn("an", (col("o_orderkey") % 3 + 2).cast("int"))
        .withColumn("ss", aggregate(arr, lit(0L), (a, x) => a + cents(x) * cents(x)))
        .select(col("o_orderkey"), col("ss"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER wmax >= an THEN
             |    CAST(CASE WHEN an = 2 THEN sum(c2) OVER w2
             |              WHEN an = 3 THEN sum(c2) OVER w3
             |              ELSE sum(c2) OVER w4 END AS BIGINT) END AS ss
             |FROM (SELECT *, CAST(o_orderkey % 3 + 2 AS INT) AS an,
             |        CAST(round(o_totalprice * 100) AS BIGINT)
             |          * CAST(round(o_totalprice * 100) AS BIGINT) AS c2
             |      FROM orders)
             |WINDOW
             |  wmax AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
             |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
             |  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             |  w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ==== GLOBAL (by = Nil) ordered ops — the GlobalOrdered range-
    // bucketed two-pass tier: per-bucket windows + broadcast prefix
    // offsets, never a single-partition WindowExec (plan-locked in
    // PlanShapeSpec). Exact-integer cents keep the FP hash stable where
    // prefix sums would otherwise reassociate summation. Most go through
    // the DSL entry points (Windows.cumDF/rleid/frankNa/shiftDF/shiftN/
    // frollDF/nafillDF with by=Nil), which AUTO-ROUTE to the tier — the
    // same call a user would write. Five put several ops of one family
    // in one call and so call the tier's multi-op forms directly, since
    // a DSL call routes one op: q_frank_global, q_frank_multi_global
    // (frankMulti), q_shift_global (shiftMulti), q_nafill_global
    // (nafill) and q_cumminmax_global (cum). ===========================

    // ---- global running sum (Windows.cumDF("sum") with by=Nil) ---------
    ("q_cumsum_global", ((s, dir) =>
      Windows.cumDF(
        dt(s, dir, "orders").df
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long")),
        "cs", "sum", col("cents"), Nil, Seq(col("o_orderkey").asc))
        .select(col("o_orderkey"), col("cs"))): Q,
      Some("""SELECT o_orderkey,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
             |    (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
             |FROM orders""".stripMargin)),

    // ---- global running sum over a NEAR-CONSTANT key: the skew-collapse
    // reroute path (99% of rows share k=0, so the quantile fit collapses
    // and the tier scatters the tie block by content hash). The summed
    // value is 0 on the constant block, so every row's prefix sum is
    // order-invariant within ties — deterministic across engines while
    // still driving the degenerate-fit machinery end-to-end. ------------
    ("q_cumsum_global_skew", ((s, dir) =>
      Windows.cumDF(
        dt(s, dir, "orders").df
          // > 0 keeps orderkey 0 (whose k would also be 0) OUT of the
          // rare set: the k=0 tie block must sum only zeros or the
          // prefix sums become within-tie-order-dependent
          .withColumn("k", when(col("o_orderkey") % 101 === 0 &&
            col("o_orderkey") > 0, col("o_orderkey")).otherwise(lit(0L)))
          .withColumn("xs", when(col("k") === 0, lit(0L))
            .otherwise(round(col("o_totalprice") * 100).cast("long"))),
        "cs", "sum", col("xs"), Nil, Seq(col("k").asc))
        .select(col("o_orderkey"), col("cs"))): Q,
      Some("""SELECT o_orderkey,
             |  CAST(sum(xs) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
             |FROM (SELECT o_orderkey,
             |        CASE WHEN o_orderkey % 101 = 0 AND o_orderkey > 0
             |             THEN o_orderkey ELSE 0 END AS k,
             |        CASE WHEN o_orderkey % 101 = 0 AND o_orderkey > 0
             |             THEN CAST(round(o_totalprice * 100) AS BIGINT)
             |             ELSE 0 END AS xs
             |      FROM orders)""".stripMargin)),

    // ---- global running product: sign/zero tracking, exact ±1/0 --------
    ("q_cumprod_global", ((s, dir) =>
      Windows.cumDF(
        dt(s, dir, "orders").df
          .withColumn("x", when(col("o_orderkey") % 97 === 0, 0.0)
            .when(col("o_orderkey") % 2 === 0, 1.0).otherwise(-1.0)),
        "cp", "prod", col("x"), Nil, Seq(col("o_orderkey").asc))
        // +0.0 on both sides: DuckDB's sequential product reaches -0.0
        // when a zero factor meets an odd sign count; the log-space
        // form always emits +0.0
        .select(col("o_orderkey"), (col("cp") + lit(0.0)).as("cp"))): Q,
      Some("""SELECT o_orderkey,
             |  product(CASE WHEN o_orderkey % 97 = 0 THEN 0.0::DOUBLE
             |               WHEN o_orderkey % 2 = 0 THEN 1.0::DOUBLE
             |               ELSE -1.0::DOUBLE END) OVER
             |    (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) + 0.0 AS cp
             |FROM orders""".stripMargin)),

    // ---- global rleid: runs across the whole table ---------------------
    ("q_rleid_global", ((s, dir) =>
      Windows.rleid(dt(s, dir, "events").df, Seq("event_type"),
        Seq(col("event_id").asc), Nil, "run_id")
        .select(col("event_id"), col("run_id"))): Q,
      Some("""SELECT event_id,
             |  CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
             |    OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
             |FROM (SELECT event_id, event_type,
             |        lag(event_type) OVER (ORDER BY event_id) AS prev
             |      FROM events)""".stripMargin)),

    // ---- global frank min/dense/average over a heavy-ties column -------
    ("q_frank_global", ((s, dir) => {
      val base = dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null))
          .otherwise(col("value")))
      // one multi-ties pass: min/dense/average share the bucket offsets
      val r3 = graft.operators.GlobalOrdered.frankMulti(base, col("v"),
        desc = false, Seq(("min", "rk_min"), ("dense", "rk_dense"),
          ("average", "rk_avg")), naLast = "true")
      r3.select(col("event_id"), col("rk_min").cast("long").as("rk_min"),
        col("rk_dense").cast("long").as("rk_dense"),
        col("rk_avg").cast("double").as("rk_avg"))
    }): Q,
      Some("""SELECT event_id,
             |  rank() OVER (ORDER BY v ASC NULLS LAST) AS rk_min,
             |  dense_rank() OVER (ORDER BY v ASC NULLS LAST) AS rk_dense,
             |  (rank() OVER (ORDER BY v ASC NULLS LAST)
             |    + (count(*) OVER (PARTITION BY v) - 1) / 2.0)::DOUBLE AS rk_avg
             |FROM (SELECT event_id,
             |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             |      FROM events)""".stripMargin)),

    // ---- global frank over a COLUMN VECTOR with mixed directions -------
    // frankv(cols=, order=) semantics (tests.Rraw 2386.*): first column
    // buckets the tier, the second ranks within its tie blocks (desc).
    ("q_frank_multi_global", ((s, dir) => {
      val base = dt(s, dir, "events").df
        .withColumn("vb", floor(col("value")).cast("long"))
      // multi-ties pass over the (vb asc, event_type desc) vector —
      // same translation Windows.frank(by=Nil) applies (head column
      // buckets, na.last="true" from asc_nulls_last, secondary desc →
      // more=(col, true))
      val r3 = graft.operators.GlobalOrdered.frankMulti(base, col("vb"),
        desc = false, Seq(("min", "rk_min"), ("dense", "rk_dense"),
          ("average", "rk_avg")), naLast = "true",
        more = Seq((col("event_type"), true)))
      r3.select(col("event_id"), col("rk_min").cast("long").as("rk_min"),
        col("rk_dense").cast("long").as("rk_dense"),
        col("rk_avg").cast("double").as("rk_avg"))
    }): Q,
      Some("""SELECT event_id,
             |  rank() OVER w AS rk_min,
             |  dense_rank() OVER w AS rk_dense,
             |  (rank() OVER w
             |    + (count(*) OVER (PARTITION BY vb, event_type) - 1) / 2.0)::DOUBLE AS rk_avg
             |FROM (SELECT event_id, CAST(floor(value) AS BIGINT) AS vb, event_type
             |      FROM events)
             |WINDOW w AS (ORDER BY vb ASC NULLS LAST, event_type DESC NULLS LAST)""".stripMargin)),

    // ---- global shift: phantom boundary rows feed lag/lead -------------
    ("q_shift_global", ((s, dir) => {
      val base = dt(s, dir, "orders").df
      // lag and lead in one bucketing + one phantom union
      graft.operators.GlobalOrdered.shiftMulti(base,
          Seq(("prev_price", col("o_totalprice"), 1, lit(0.0)),
            ("next_price", col("o_totalprice"), -1, lit(0.0))),
          col("o_orderkey"), asc = true, nullsFirst = Some(true))
        .select(col("o_orderkey"), col("prev_price"), col("next_price"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  coalesce(lag(o_totalprice) OVER w, 0.0) AS prev_price,
             |  coalesce(lead(o_totalprice) OVER w, 0.0) AS next_price
             |FROM orders
             |WINDOW w AS (ORDER BY o_orderkey)""".stripMargin)),

    // ---- global shift VECTOR n: one bucketing + one phantom union for
    // the whole width vector (shiftMulti; the fold form paid one
    // full-data exchange per width) ---------------------------------------
    ("q_shift_vector_global", ((s, dir) =>
      Windows.shiftN(dt(s, dir, "orders").df, Seq("o_totalprice"),
        Seq(1, 2, -1), Nil, Seq(col("o_orderkey").asc))
        .select(col("o_orderkey"),
          col("o_totalprice_lag_1").as("price_lag_1"),
          col("o_totalprice_lag_2").as("price_lag_2"),
          col("o_totalprice_lead_1").as("price_lead_1"))): Q,
      Some("""SELECT o_orderkey,
             |  lag(o_totalprice, 1) OVER w AS price_lag_1,
             |  lag(o_totalprice, 2) OVER w AS price_lag_2,
             |  lead(o_totalprice, 1) OVER w AS price_lead_1
             |FROM orders
             |WINDOW w AS (ORDER BY o_orderkey)""".stripMargin)),

    // ---- global rolling sum, exact cents, full-window semantics --------
    ("q_froll_global", ((s, dir) =>
      Windows.frollDF(
        dt(s, dir, "orders").df
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long")),
        "s7", "sum", col("cents"), 7, Nil, Seq(col("o_orderkey").asc))
        .select(col("o_orderkey"), col("s7"))): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w7 = 7
             |       THEN CAST(sum(cents) OVER w7 AS BIGINT) END AS s7
             |FROM (SELECT o_orderkey,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |      FROM orders)
             |WINDOW w7 AS (ORDER BY o_orderkey
             |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- global nafill locf + nocb across bucket boundaries ------------
    ("q_nafill_global", ((s, dir) => {
      val base = dt(s, dir, "events").df
        .withColumn("v", when(col("event_type") === "error", lit(null))
          .otherwise(col("value")))
      // locf and nocb in one bucketing (both carries read the raw v)
      graft.operators.GlobalOrdered.nafill(base, col("v"),
          col("event_id"), Some("locf"), Some("nocb"), nullsFirst = Some(true))
        .select(col("event_id"), col("locf"), col("nocb"))
    }): Q,
      Some("""SELECT event_id,
             |  last_value(v IGNORE NULLS) OVER
             |    (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS locf,
             |  first_value(v IGNORE NULLS) OVER
             |    (ORDER BY event_id
             |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nocb
             |FROM (SELECT event_id,
             |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
             |      FROM events)""".stripMargin)),

    // ---- global calendar-window count (frolladapt, by=Nil) -------------
    // Value-based phantoms: rows within the 1-hour reach of a later
    // bucket's minimum time are copied there; per-bucket RANGE frames
    // count. Deterministic even under time ties (range frames depend on
    // values, not positions).
    ("q_frolladapt_global", ((s, dir) =>
      Windows.frolladaptDF(
        dt(s, dir, "events").df.withColumn("t", unix_micros(col("ts"))),
        "an", col("t"), 3600000000L, Nil)
        .select(col("event_id"), col("an"))): Q,
      Some("""SELECT event_id, CAST(count(*) OVER wr AS INT) AS an
             |FROM events
             |WINDOW wr AS (ORDER BY epoch_us(ts)
             |              RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- global frollapply: arbitrary closure, phantom frames ----------
    // The closure (an exact integer sum over the 5-row frame) runs per
    // row over its true global neighborhood via the phantom tier — the
    // one ordered op that previously had no by=Nil scale path.
    ("q_frollapply_global", ((s, dir) => {
      val base = dt(s, dir, "orders").df
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      val f = (rows: Seq[org.apache.spark.sql.Row]) =>
        rows.map(_.getLong(0)).sum
      Windows.frollApplyF(base, "s5", Seq("c" -> col("cents")), 5, Nil,
        Seq(col("o_orderkey").asc), f,
        org.apache.spark.sql.types.LongType)
        .select(col("o_orderkey"), col("s5"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CASE WHEN count(*) OVER w5 = 5
             |       THEN CAST(sum(cents) OVER w5 AS BIGINT) END AS s5
             |FROM (SELECT o_orderkey,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |      FROM orders)
             |WINDOW w5 AS (ORDER BY o_orderkey
             |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- global shift along a NULLABLE key, explicit placement ---------
    // ONE null-key row (key deterministic: event_id 7 → null) so the
    // output is fully determined; asc_nulls_last routes the null row to
    // the END of the sequence — pinning the DSL's nulls-placement
    // threading into the tier (bucketing, within-bucket sort, phantom
    // edge-row selection all honor the placement).
    ("q_shift_global_nulls", ((s, dir) => {
      val base = dt(s, dir, "events").df
        .withColumn("k", when(col("event_id") === 7, lit(null).cast("long"))
          .otherwise(col("event_id")))
      Windows.shiftDF(base, "prev_v", col("value"), 1, Nil,
        Seq(col("k").asc_nulls_last), fill = lit(-1.0))
        .select(col("event_id"), round(col("prev_v"), 3).as("prev_v"))
    }): Q,
      Some("""SELECT event_id,
             |  round(coalesce(lag(value) OVER (ORDER BY k ASC NULLS LAST),
             |                 -1.0), 3) AS prev_v
             |FROM (SELECT event_id, value,
             |        CASE WHEN event_id = 7 THEN NULL ELSE event_id END AS k
             |      FROM events)""".stripMargin)),

    // ---- global running sum, DESC order with nulls first ---------------
    // desc_nulls_first through the DSL: the null-key row opens the
    // sequence, every prefix after it includes its cents.
    ("q_cumsum_global_nulls", ((s, dir) => {
      val base = dt(s, dir, "orders").df
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("k", when(col("o_orderkey") === 7, lit(null).cast("long"))
          .otherwise(col("o_orderkey")))
      Windows.cumDF(base, "cs", "sum", col("cents"), Nil,
        Seq(col("k").desc_nulls_first))
        .select(col("o_orderkey"), col("cs"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  CAST(sum(cents) OVER (ORDER BY k DESC NULLS FIRST
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
             |FROM (SELECT o_orderkey,
             |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |        CASE WHEN o_orderkey = 7 THEN NULL ELSE o_orderkey END AS k
             |      FROM orders)""".stripMargin)),

    // ---- global rolling sum over a STRING order key (round 11) ---------
    // Exercises the non-numeric bucket fit: bounds come from a bounded
    // deterministic sample and the bucket expression compares strings
    // with Spark's own ordering. The zero-padded key makes lexical
    // order equal numeric order so DuckDB agrees.
    ("q_froll_global_str", ((s, dir) =>
      Windows.frollDF(
        dt(s, dir, "documents").df
          .withColumn("skey",
            concat(lit("d"), lpad(col("doc_id").cast("string"), 10, "0"))),
        "s5", "sum", col("n_chars"), 5, Nil, Seq(col("skey").asc))
        .select(col("skey"), col("s5"))): Q,
      Some("""SELECT skey,
             |  CASE WHEN count(*) OVER w5 = 5
             |       THEN CAST(sum(n_chars) OVER w5 AS BIGINT) END AS s5
             |FROM (SELECT concat('d', lpad(CAST(doc_id AS VARCHAR), 10, '0')) AS skey,
             |        n_chars
             |      FROM documents)
             |WINDOW w5 AS (ORDER BY skey
             |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- global ADAPTIVE rolling sum (round 11) ------------------------
    // Per-row window length an ∈ 1..5 from the key itself; phantom
    // reach = maxN−1 keeps every frame exact across buckets. The oracle
    // expresses the variable frame as a prefix-sum difference
    // (cs[rn] − cs[rn−an]), null while rn < an (reference
    // adaptive-n-exceeds-prefix → NA).
    ("q_froll_adaptive_global", ((s, dir) =>
      Windows.frollAdaptiveDF(
        dt(s, dir, "orders").df
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
          .withColumn("an", (col("o_orderkey") % 5 + 1).cast("int")),
        "s_ad", "sum", col("cents"), col("an"), 5, Nil,
        Seq(col("o_orderkey").asc))
        .select(col("o_orderkey"), col("s_ad"))): Q,
      Some("""WITH base AS (
             |  SELECT o_orderkey,
             |    (o_orderkey % 5 + 1)::INT AS an,
             |    row_number() OVER (ORDER BY o_orderkey) AS rn,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |      OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS cs
             |  FROM orders)
             |SELECT a.o_orderkey,
             |  CASE WHEN a.rn >= a.an
             |       THEN CAST(a.cs - coalesce(b.cs, 0) AS DOUBLE) END AS s_ad
             |FROM base a LEFT JOIN base b ON b.rn = a.rn - a.an""".stripMargin)),

    // ---- global running max/min via the DSL (round 11) -----------------
    // max with naRm = skip-null SQL semantics; min without = NA-poison
    // from the first null onward — both in one GlobalOrdered.cum call
    // (no FP reassociation: min/max are order-free).
    ("q_cumminmax_global", ((s, dir) => {
      val base = dt(s, dir, "orders").df
        .withColumn("v", when(col("o_orderkey") % 97 === 0,
          lit(null).cast("double")).otherwise(col("o_totalprice")))
      graft.operators.GlobalOrdered.cum(base, col("v"), col("o_orderkey"),
          Seq(("max", true, "cmax_narm"), ("min", false, "cmin_poison")),
          nullsFirst = Some(true))
        .select(col("o_orderkey"), col("cmax_narm"), col("cmin_poison"))
    }): Q,
      Some("""SELECT o_orderkey,
             |  max(v) OVER w AS cmax_narm,
             |  CASE WHEN count(*) OVER w = count(v) OVER w
             |       THEN min(v) OVER w END AS cmin_poison
             |FROM (SELECT o_orderkey,
             |        CASE WHEN o_orderkey % 97 = 0 THEN NULL
             |             ELSE o_totalprice END AS v FROM orders)
             |WINDOW w AS (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING)""".stripMargin)),

    // ---- global row numbers via the DSL (round 11) ----------------------
    // rowid(cols=Nil) auto-routes through rownumByRange: ONE range
    // exchange, no window at all (plan-locked in GlobalOrderedSpec);
    // counts in LONG like the tier.
    ("q_rowid_global", ((s, dir) =>
      Windows.rowid(dt(s, dir, "orders").df, Nil,
        Seq(col("o_orderdate").asc, col("o_orderkey").asc), "rn")
        .select(col("o_orderkey"), col("rn"))): Q,
      Some("""SELECT o_orderkey,
             |  row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
             |FROM orders""".stripMargin))
  )
}
