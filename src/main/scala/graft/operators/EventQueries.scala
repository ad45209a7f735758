package graft.operators

import graft.core.{Decimals, EventTime, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream surface Q-B1..Q-B4 (SURVEY §2.4-B), run in batch over the
  * `events` table but written with the same operators Structured Streaming
  * uses (`window()`, session gap logic, as-of ordering), so each plan is
  * streaming-ready: swap `read` for `readStream`, add a watermark.
  *
  * Event-time canonicalization is SCHEMA-ADAPTIVE ([[graft.core.EventTime]]):
  * every plan reads the events table through `EventTime.events`, which
  * inspects the loaded `ts` type (BIGINT nanos / TIMESTAMP / TIMESTAMP_NTZ —
  * the physical layout has changed across data generations) and appends a
  * canonical `t_us` int64 epoch-µs column — the exact value DuckDB's
  * `epoch_us(ts)` produces on every layout — so every comparison, window
  * bucket and gap test is identical integer arithmetic on both engines.
  * `timestamp_micros()` lifts back to a (lossless) Spark timestamp where the
  * idiomatic operator wants one (`window()`, as-of range join).
  *
  * The streaming variants live in [[graft.streaming.StreamingOps]].
  */
object EventQueries {
  import Decimals._

  /** Shared oracle texts: the salted variants (below) must be row-identical
    * to the plain plans, so they declare the SAME oracle SQL — the driver's
    * hash compare then gates both against one truth.
    */
  private val sessionizeOracle: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_tsu
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_tsu IS NULL
      |                   OR tsu - prev_tsu > 1800000000
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM t),
      |s AS (
      |  SELECT user_id, tsu, event_id,
      |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |       MIN(tsu) AS session_start_us, MAX(tsu) AS session_end_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  private val asofOracle: String =
    """SELECT event_id, ts_us, user_id, last_orderkey, last_orderdate, last_totalprice
      |FROM (
      |  SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id,
      |         o.o_orderkey AS last_orderkey,
      |         o.o_orderdate AS last_orderdate,
      |         o.o_totalprice AS last_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e
      |  JOIN orders o ON e.user_id = o.o_custkey AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
      |)
      |WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** The q_b4 union-stream legs, shared with the salted variant: events
    * tagged 1, orders tagged 0, both filtered for NULL-key/NULL-date
    * inner-join parity with the oracle (the union-stream window would
    * otherwise co-locate NULL-keyed rows in one partition and pair them,
    * and a NULL order time sorts nulls-first and would become every
    * event's carry). o_orderdate is TIMESTAMP_NTZ; the session TZ is UTC
    * so the cast is the identity epoch mapping and unix_micros ==
    * DuckDB's epoch_us.
    */
  private def asofUnionLegs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = EventTime.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(
        col("user_id"),
        col("t_us"),
        lit(1).as("tag"),
        col("event_id"),
        lit(null).cast("bigint").as("o_orderkey"),
        lit(null).cast("timestamp_ntz").as("o_orderdate"),
        lit(null).cast("double").as("o_totalprice")
      )
    val or = Tables(s, d, "orders")
      .filter(col("o_orderdate").isNotNull && col("o_custkey").isNotNull)
      .select(
        col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
        lit(0).as("tag"),
        lit(null).cast("bigint").as("event_id"),
        col("o_orderkey"),
        col("o_orderdate"),
        col("o_totalprice")
      )
    (ev, or)
  }

  /** Declared-plan dispatch for the skew-sensitive event queries (round 13).
    *
    * The measured 2×2 on 10M-event (~250 MB) fixtures (PERF.md round 13):
    * with one user at 30 % of events the salted plans win 1.6× (sessionize)
    * and 3.5× (as-of); with uniform users the SAME salted plans LOSE
    * 1.7–3.3× — so neither plan is a safe blind default and table SIZE
    * alone cannot pick (skew, not volume, is the decider). Policy
    * (`spark.graft.events.salted`, default `auto`):
    *   - `on` / `off`: caller knows the workload, forced;
    *   - `auto`: tables under `spark.graft.events.saltBytes` (default
    *     128 MB) always take the plain plan — at that size even a 100 %
    *     hot user fits one task comfortably. Above the floor, a BOUNDED
    *     head-sample probe (`limit(SkewSampleRows)`,
    *     1M rows — a LocalLimit scan that reads only the leading
    *     row groups, never the table) measures the top user's share; above
    *     `SkewShare` (0.05 — 5 % of a
    *     >128 MB table in one window partition is straggler territory)
    *     the salted plan is dispatched. The probe is cached per
    *     (path, content snapshot) so repeat invocations plan for free.
    * Limits, stated honestly: a head sample only sees the leading files,
    * so a hot key living purely in later files is missed (dispatch falls
    * back to today's plain behavior — never worse than the status quo);
    * `on` exists precisely for workloads that know better. AQE's runtime
    * skew handling still applies either way; this dispatch sets the
    * DECLARED plan, which AQE cannot restructure (it can split shuffle
    * partitions but not decompose an ordered per-key window).
    */
  private[graft] object Dispatch {
    private def conf(s: SparkSession, key: String, dflt: String): String =
      s.conf.getOption(key).getOrElse(dflt)
    /** Top-user share of the sample above which `auto` salts. */
    private val SkewShare = 0.05
    /** Rows in the bounded skew probe. */
    private val SkewSampleRows = 1000000

    def useSalted(s: SparkSession, d: String): Boolean =
      conf(s, "spark.graft.events.salted", "auto") match {
        case "on"  => true
        case "off" => false
        case _ =>
          val floor = conf(s, "spark.graft.events.saltBytes", (128L << 20).toString).toLong
          graft.core.Sizing.onDiskBytes(s, s"$d/events.parquet") > floor && {
            probedShare(s, d) > SkewShare
          }
      }

    /** Top-user share over a bounded head sample; an empty table probes
      * as share 0. The MEASURED share is cached (a SessionMemo value per
      * (path, sample size) and table snapshot), not the decision, which
      * also reads the per-session `salted` and `saltBytes` settings.
      */
    private def probedShare(s: SparkSession, d: String): Double = {
      val path = s"$d/events.parquet"
      graft.core.SessionMemo.value(s, "events_top_share", (path, SkewSampleRows), Seq(path)) {
        // head sample (LocalLimit over the leading row groups) PLUS an
        // explicit sample of the lexicographically LAST part file
        // (round-14 lead 2): a hot key whose rows land only in later
        // files is invisible to the head — the tail read covers the
        // other placement extreme at the same bounded cost. Still a
        // heuristic (a hot key purely mid-table evades both ends —
        // `salted=on` exists for workloads that know); rows may be
        // double-counted when the table is a single file, which only
        // biases the share estimate of data both samples saw anyway.
        val head = s.read.parquet(path).select(col("user_id")).limit(SkewSampleRows / 2)
        val sample = lastPartFile(s, path) match {
          case Some(last) =>
            head.unionAll(
              s.read.parquet(last).select(col("user_id")).limit(SkewSampleRows / 2))
          case None => head
        }
        val agg = sample
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("mx"), sum(col("c")).as("n")).head()
        if (agg.isNullAt(0)) 0.0
        else agg.getLong(0).toDouble / agg.getLong(1).toDouble
      }
    }

    /** The lexicographically last parquet part file under `path`, when
      * `path` is a multi-file table (None for a single file — the head
      * sample already covers it). Driver-side listing only.
      */
    private def lastPartFile(s: SparkSession, path: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) None
      else {
        val parts = fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .map(_.toString).sorted
        if (parts.length > 1) Some(parts.last) else None
      }
    }
  }

  // ---- Q-B3 plain plan: sessionization (30-minute inactivity gap) --------
  // Batch analog of session_window(ts, '30 minutes'): lag + cumulative
  // new-session flag, all in exact int64 µs arithmetic.
  private def sessionizePlain(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    EventTime.events(s, d)
      .withColumn("tsu", col("t_us"))
      .withColumn("prev_tsu", lag(col("tsu"), 1).over(wOrd))
      .withColumn(
        "new_sess",
        when(
          col("prev_tsu").isNull || (col("tsu") - col("prev_tsu") > 1800000000L),
          1L
        ).otherwise(0L)
      )
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("tsu")).as("session_start_us"),
        max(col("tsu")).as("session_end_us")
      )
      .orderBy(col("user_id"), col("session_id"))
  }

  // ---- Q-B3 salted plan: hot-user-proof sessionization -------------------
  // The plain q_b3 windows PARTITION BY user_id: one power-law user puts
  // their entire history in a single window partition that AQE cannot
  // split — the event-surface skew hazard (round 12, VERDICT lead 4).
  // This variant ports q_c20's skew-splittable decomposition to the
  // ordered-window op: SALT = the 6 h time bucket (bk = t_us DIV B,
  // B ≫ the 30 min gap).
  //  1. per-(user, bk) windows find internal session starts — a hot
  //     user's events spread over their time buckets;
  //  2. bucket-first events resolve against the ADJACENT bucket's last
  //     event via an equi-join on (user, bk) summaries (one row per
  //     bucket; if bucket b−1 is empty the true gap is ≥ B > gap, so
  //     "no adjacent summary" correctly means "new session");
  //  3. the latest-start carry chains across buckets in a per-user
  //     window over BUCKET SUMMARIES — O(time-span/B) rows per user,
  //     not O(events) (a month-long hot user is ~120 rows);
  //  4. session assembly is groupBy(user, session_start): count/min/max
  //     partial-aggregate map-side, so even a single 100 M-event
  //     session never funnels raw rows into one task;
  //  5. session_id = row_number over SESSION rows per user (tiny).
  private def sessionizeSalted(s: SparkSession, d: String): DataFrame = {
    val G = 1800000000L          // 30 min inactivity gap, µs
    val B = 21600000000L         // 6 h salt bucket, ≫ G
    val e = EventTime.events(s, d)
      .select(col("user_id"), col("event_id"), col("t_us").as("tsu"))
      .withColumn("bk", expr(s"tsu DIV $B"))
    val wB = Window.partitionBy(col("user_id"), col("bk"))
      .orderBy(col("tsu"), col("event_id"))
    val wBrun = wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sums = e.groupBy(col("user_id"), col("bk"))
      .agg(min(col("tsu")).as("first_tsu"), max(col("tsu")).as("last_tsu"))
    val chain = sums
      .join(sums.select(col("user_id"), (col("bk") + 1).as("bk"),
        col("last_tsu").as("prev_last")), Seq("user_id", "bk"), "left")
      .select(col("user_id"), col("bk"), col("prev_last"))
    val flagged = e.join(chain, Seq("user_id", "bk"))
      .withColumn("prev_in", lag(col("tsu"), 1).over(wB))
      .withColumn("is_start",
        when(col("prev_in").isNotNull, col("tsu") - col("prev_in") > G)
          .otherwise(col("prev_last").isNull || col("tsu") - col("prev_last") > G))
    val withRun = flagged.withColumn("run_start",
      last(when(col("is_start"), col("tsu")), ignoreNulls = true).over(wBrun))
    val wUbk = Window.partitionBy(col("user_id")).orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = withRun.groupBy(col("user_id"), col("bk"))
      .agg(max(when(col("is_start"), col("tsu"))).as("last_start_in_bk"))
      .withColumn("carried_in",
        last(col("last_start_in_bk"), ignoreNulls = true).over(wUbk))
      .select(col("user_id"), col("bk"), col("carried_in"))
    withRun.join(carried, Seq("user_id", "bk"))
      .withColumn("sess_start", coalesce(col("run_start"), col("carried_in")))
      .groupBy(col("user_id"), col("sess_start"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("tsu")).as("session_start_us"),
        max(col("tsu")).as("session_end_us"))
      .withColumn("session_id", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("sess_start"))).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start_us"), col("session_end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // ---- Q-B4 plain plan: as-of join (latest prior order per event) --------
  // UNION-STREAM form: tag orders (0) and events (1), union them keyed by
  // user, sort once within user by (time, tag, orderkey), and carry the
  // most recent order forward with last(..., ignoreNulls) over a running
  // window. One shuffle on user_id, zero pair amplification — the naive
  // join-then-rank form materializes O(events_per_user × orders_per_user)
  // rows per key before the window prunes them, which is quadratic on a
  // skewed power-user at scale. Tie-break parity with the declared oracle
  // (ROW_NUMBER ... ORDER BY o_orderdate DESC, o_orderkey DESC → rn=1):
  // orders sort before events at equal time (tag 0 < 1, matching the
  // inclusive o_orderdate <= ts bound) and ascending orderkey within a
  // timestamp makes the running `last` adopt the max orderkey — exactly
  // the rn=1 winner. Events with no prior order drop (inner-join parity).
  private def asofPlain(s: SparkSession, d: String): DataFrame = {
    val (ev, or) = asofUnionLegs(s, d)
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("tag"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(or)
      .withColumn(
        "ord",
        last(
          when(col("tag") === 0,
            struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))),
          ignoreNulls = true
        ).over(w)
      )
      .filter(col("tag") === 1 && col("ord").isNotNull)
      .select(
        col("event_id"),
        col("t_us").as("ts_us"),
        col("user_id"),
        col("ord.o_orderkey").as("last_orderkey"),
        col("ord.o_orderdate").as("last_orderdate"),
        col("ord.o_totalprice").as("last_totalprice")
      )
      .orderBy(col("event_id"))
  }

  // ---- Q-B4 salted plan: hot-user-proof as-of join ------------------------
  // Same salt decomposition for the union-stream running-last: per-
  // (user, 6 h bucket) windows carry the last order WITHIN the bucket;
  // the cross-bucket carry (the most recent order in any earlier
  // bucket) chains through a per-user window over bucket summaries —
  // O(buckets) rows, never O(events). Unlike sessionization there is no
  // gap bound, so the bucket summary keeps the full order payload in a
  // max-struct ordered by (t_us, orderkey) — the same tie-break the
  // running `last` applies.
  private def asofSalted(s: SparkSession, d: String): DataFrame = {
    val B = 21600000000L
    val (ev, or) = asofUnionLegs(s, d)
    val u = ev.unionByName(or).withColumn("bk", expr(s"t_us DIV $B"))
    val wB = Window.partitionBy(col("user_id"), col("bk"))
      .orderBy(col("t_us"), col("tag"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = u.withColumn("run_ord",
      last(
        when(col("tag") === 0,
          struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))),
        ignoreNulls = true).over(wB))
    val wUbk = Window.partitionBy(col("user_id")).orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = u.select(col("user_id"), col("bk"),
        when(col("tag") === 0,
          struct(col("t_us"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"))).as("ordRow"))
      .groupBy(col("user_id"), col("bk"))
      .agg(max(col("ordRow")).as("last_ord"))
      .withColumn("carried_ord", last(col("last_ord"), ignoreNulls = true).over(wUbk))
      .select(col("user_id"), col("bk"), col("carried_ord"))
    withRun.join(carried, Seq("user_id", "bk"))
      .withColumn("ord", coalesce(
        col("run_ord"),
        when(col("carried_ord").isNotNull,
          struct(
            col("carried_ord.o_orderkey").as("o_orderkey"),
            col("carried_ord.o_orderdate").as("o_orderdate"),
            col("carried_ord.o_totalprice").as("o_totalprice")))))
      .filter(col("tag") === 1 && col("ord").isNotNull)
      .select(
        col("event_id"),
        col("t_us").as("ts_us"),
        col("user_id"),
        col("ord.o_orderkey").as("last_orderkey"),
        col("ord.o_orderdate").as("last_orderdate"),
        col("ord.o_totalprice").as("last_totalprice"))
      .orderBy(col("event_id"))
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- Q-B1: tumbling window aggregate ---------------------------------
    QueryDef(
      "q_b1_tumbling_window",
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
             |  COUNT(*) AS cnt,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY window_start_us, event_type""".stripMargin)
    ) { (s, d) =>
      EventTime.events(s, d)
        .withColumn("ets", timestamp_micros(col("t_us")))
        .groupBy(window(col("ets"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sumMoney(col("value")).as("total_value")
        )
        .select(
          unix_micros(col("w.start")).as("window_start_us"),
          col("event_type"),
          col("cnt"),
          col("total_value")
        )
        .orderBy(col("window_start_us"), col("event_type"))
    },

    // ---- Q-B2: sliding window (1h window, 15m slide) ---------------------
    // Spark assigns each event to windowDuration/slide = 4 epoch-aligned
    // windows; the oracle reproduces that assignment with 15m buckets - k·15m.
    QueryDef(
      "q_b2_sliding_window",
      Some("""WITH ks AS (SELECT ts, value, unnest(range(4)) AS k FROM events)
             |SELECT epoch_us(ts) - epoch_us(ts) % 900000000 - k * 900000000 AS window_start_us,
             |  COUNT(*) AS cnt,
             |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
             |FROM ks
             |GROUP BY 1
             |ORDER BY window_start_us""".stripMargin)
    ) { (s, d) =>
      EventTime.events(s, d)
        .withColumn("ets", timestamp_micros(col("t_us")))
        .groupBy(window(col("ets"), "1 hour", "15 minutes").as("w"))
        .agg(
          count(lit(1)).as("cnt"),
          sumMoney(col("value")).as("total_value")
        )
        .select(
          unix_micros(col("w.start")).as("window_start_us"),
          col("cnt"),
          col("total_value")
        )
        .orderBy(col("window_start_us"))
    },

    // ---- Q-B3: sessionization (30-minute inactivity gap) -----------------
    // Skew-dispatched (see [[Dispatch]]): plain plan below the size floor
    // or when the head-sample probe sees no hot user; salted decomposition
    // otherwise. Both plans are row-identical (HotUserSkewSpec) and share
    // this oracle.
    QueryDef(
      "q_b3_sessionize",
      Some(sessionizeOracle)
    ) { (s, d) =>
      if (Dispatch.useSalted(s, d)) sessionizeSalted(s, d) else sessionizePlain(s, d)
    },

    // ---- Q-B4: as-of join (latest prior order per event) -----------------
    // Skew-dispatched like q_b3 (see [[Dispatch]] and [[asofPlain]]).
    QueryDef(
      "q_b4_asof_join",
      Some(asofOracle)
    ) { (s, d) =>
      if (Dispatch.useSalted(s, d)) asofSalted(s, d) else asofPlain(s, d)
    },

    // ---- Q-B9: banded interval self-join ---------------------------------
    // Count per-user event pairs within 60 s of each other. The naive form
    // is an inequality self-join (quadratic per user — the oracle runs
    // exactly that). The scale form is BUCKET BLOCKING: band time into
    // 60 s buckets; a qualifying pair's buckets differ by 0 or 1, so two
    // equi-joins on (user, bucket) — same-bucket (id-ordered) and
    // adjacent-bucket (time-ordered, id order implied impossible to
    // double-count) — cover every pair exactly once. Candidates scale with
    // events per (user, minute), not events per user; both joins shuffle
    // on high-cardinality composite keys.
    QueryDef(
      "q_b9_interval_join",
      Some("""SELECT a.user_id, COUNT(*) AS n_pairs
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ) { (s, d) =>
      val W = 60000000L // 60 s in µs
      val e = EventTime.events(s, d)
        .select(col("event_id"), col("user_id"), col("t_us").as("us"))
        .withColumn("bk", expr(s"us DIV $W"))
      def side(tag: String) = e.select(
        col("user_id"), col("bk"),
        col("event_id").as(s"id_$tag"), col("us").as(s"us_$tag"))
      val a = side("a")
      val b = side("b")
      val same = a.join(b, Seq("user_id", "bk"))
        .filter(col("id_a") < col("id_b")
          && col("us_b") - col("us_a") <= W && col("us_a") - col("us_b") <= W)
      val cross = a.join(b.withColumn("bk", col("bk") - 1), Seq("user_id", "bk"))
        .filter(col("us_b") - col("us_a") <= W) // us_b > us_a by bucket order
      same.select(col("user_id")).unionAll(cross.select(col("user_id")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },

    // ---- Q-B3 salted: forced salted plan (A/B handle + spec subject) -----
    // The salted decomposition regardless of dispatch — HotUserSkewSpec
    // proves it row-identical to the plain plan, and the bench carries
    // both so the skew trade stays measured. Same oracle as q_b3.
    QueryDef(
      "q_b3_sessionize_salted",
      Some(sessionizeOracle)
    ) { (s, d) => sessionizeSalted(s, d) },

    // ---- Q-B4 salted: forced salted plan (A/B handle + spec subject) -----
    QueryDef(
      "q_b4_asof_salted",
      Some(asofOracle)
    ) { (s, d) => asofSalted(s, d) }
  )
}
