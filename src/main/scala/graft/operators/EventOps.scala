package graft.operators

import graft.{Q, Tables}
import graft.functions.Stable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream catalog (SURVEY.md §2 R30, T1–T2) — batch forms of the
  * streaming operators over `events`. The true streaming forms (watermark
  * + window, session_window) live in [[graft.streaming.EventStream]] and
  * are spec-tested; these batch twins are what the DuckDB oracle can
  * check, and they share the exact same grouping expressions.
  */
object EventOps {

  /** The quantized Markov transition rows `(prev, next, p_e6)` collected
    * to the driver when the checkpointed matrix fits
    * [[SizeGate.MarkovLocalRows]] — ev53/ev58/ev91's 8-round
    * recurrences are exact integer algebra on a TYPE-VOCABULARY-sized
    * frame (driver-bounded model
    * state, the PQ-codebook class), and running them as Spark joins
    * costs ~8 scheduler round-trips per scenario on ≤25-row frames
    * (measured: 40 tiny joins = most of ev91's 9.9 s at sf0.1). None
    * when the vocabulary exceeds the cap — callers keep the distributed
    * round loop, so scale is handled by measured size, not assumption.
    * Long division below mirrors Spark's `DIV` (truncation) exactly;
    * every operand in these recurrences is non-negative. */
  private def collectedMatrix(m: DataFrame): Option[Seq[(String, String, Long)]] =
    SizeGate.rowsIfBounded(m.select("prev", "next", "p_e6"),
        SizeGate.MarkovLocalRows)
      .map(_.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2))))

  /** Eight rounds of the absorption recurrence a'(s) = R(s) +
    * ⌊Σ_{(s,n,p)∈Q, n∈dom(a)} p·a(n) / 10⁶⌋ over the collected matrix —
    * the driver form of ev58/ev91's unrolled loop, term for term. */
  private def absorb8(states: Seq[String], q: Seq[(String, String, Long)],
                      r: Map[String, Long]): Map[String, Long] = {
    var a = states.map(_ -> 0L).toMap
    for (_ <- 1 to 8) {
      val acc = q.filter(t => a.contains(t._2))
        .groupBy(_._1)
        .map { case (prev, ts) => prev -> ts.map(t => t._3 * a(t._2)).sum / 1000000L }
      a = states.map(st => st -> (r.getOrElse(st, 0L) + acc.getOrElse(st, 0L))).toMap
    }
    a
  }

  val catalog: Seq[Q] = Seq(
    // T1 — hourly tumbling-window aggregation.
    Q(
      "ev1_hourly",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_v
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), Stable.moneySum(col("value")).as("sum_v"))
        .orderBy("hr", "event_type")
    },

    // T2 — sessionization: 30-min-gap sessions per user via lag + running
    // count of session starts. Partitions by user_id (high cardinality) —
    // the same shape `session_window` uses in the streaming twin.
    Q(
      "ev2_sessionize",
      """WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT user_id, sid, count(*) AS n, min(ts) AS t0, max(ts) AS t1,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_v
        |FROM y GROUP BY 1,2 ORDER BY 1,2""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n"), min("ts").as("t0"), max("ts").as("t1"),
          Stable.moneySum(col("value")).as("sum_v"))
        .orderBy("user_id", "sid")
    },

    // T1b — gap-filled hourly series: dense hour×type spine (sequence +
    // explode) left-joined with actuals so silent hours surface as zero
    // rows. The spine is generated, never scanned — at any scale it's
    // |hours|·|types| rows, and the join shuffles only the aggregated
    // hourly counts, not raw events.
    Q(
      "ev5_gap_fill",
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM events),
        |spine AS (
        |  SELECT g.g AS hr, t.event_type
        |  FROM (SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |                                      (SELECT h1 FROM bounds),
        |                                      INTERVAL 1 HOUR)) AS g) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        |actual AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT s.hr, s.event_type, coalesce(a.n, 0) AS n
        |FROM spine s LEFT JOIN actual a ON s.hr = a.hr AND s.event_type = a.event_type
        |ORDER BY s.hr, s.event_type""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val bounds = ev.agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      val spine = bounds
        .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        .crossJoin(ev.select("event_type").distinct())
      val actual = ev.groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      spine.join(actual, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("hr", "event_type")
    },

    // T3 — funnel state machine (batch twin of EventStream.funnel; the
    // streaming form is spec-tested with flatMapGroupsWithState).
    // Rows-only: the per-user ordered state machine isn't expressible as
    // portable DuckDB SQL; DedupSpec-style planted sequences pin it.
    // PRODUCTION-CARDINALITY BOUND (r8, graft.streaming.FunnelSoak): the
    // streaming form soaked on the ROCKSDB state store at 1.2M live
    // users (24 rate-limited micro-batches, state peaking at exactly
    // 1.2M FunnelState rows): completions exact (1,200,000/1,200,000),
    // measured durable state ≈ 29.5 bytes/key (35.3 MB SST at peak) —
    // so 10⁹ users is ~30 GB of state, executor-spread — at ~93k
    // events/s single-box. Numbers recorded in PLANS.md r8.
    Q.rowsOnly("st1_funnel", "stateful") { (s, d) =>
      graft.streaming.EventStream
        .funnelBatch(s, Tables.events(s, d), Seq("view", "click", "purchase"))
        .orderBy("user_id", "completed_at")
    },

    // R30 — JSON extraction from the semi-structured props column
    // (RAW's just-in-time semi-structured access, Spark-first).
    Q(
      "ev3_json_props",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // R30b — schema-declared JSON parse (`from_json` → typed struct),
    // the "infer once, then read with a pinned schema" half of RAW's
    // just-in-time semi-structured access (ev3 is the schema-less half).
    Q(
      "ev4_json_schema",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props,'$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .withColumn("j", from_json(col("props"), "k BIGINT", Map.empty[String, String]))
        .select(col("event_type"), col("j.k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hi"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    },

    // T3c — funnel conversion rates, the SQL-expressible twin of st1's
    // state machine: per user the first view, the first click within 24 h
    // AFTER that view, the first purchase within 24 h after that click —
    // each stage a de-correlated (join + conditional min) aggregate, so
    // the whole funnel is three key-shuffles over per-user reductions,
    // never a per-user sort of raw history. Counts grouped by first-view
    // day.
    Q(
      "ev8_funnel_rates",
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.tv
        |        AND e.ts <= v.tv + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.tc
        |        AND e.ts <= c.tc + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT CAST(tv AS DATE) AS d, count(*) AS n_view,
        |  CAST(count(tc) AS BIGINT) AS n_click,
        |  CAST(count(tp) AS BIGINT) AS n_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      // v and c feed TWO consumers each (the next stage + the final
      // join); unmaterialized, Catalyst recomputes the whole upstream
      // per branch — the plan audit showed 6 scans of events. The stage
      // frames are per-user aggregates (tiny), so localCheckpoint them
      // (the repo's GC-reclaimable pattern — a bare persist() is pinned
      // by the CacheManager for the whole session): one type-filtered
      // scan per stage, which is this shape's floor.
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
        .localCheckpoint(true)
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("tv")
          && col("ts") <= col("tv") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min("ts").as("tc"))
        .localCheckpoint(true)
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("tc")
          && col("ts") <= col("tc") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .groupBy(col("tv").cast("date").as("d"))
        .agg(count(lit(1)).as("n_view"),
          count(col("tc")).as("n_click"),
          count(col("tp")).as("n_purchase"))
        .orderBy("d")
    },

    // T10 — retention cohort matrix (the canonical product-analytics
    // shape): cohort = a user's first active day, then distinct active
    // users per (cohort, day offset). Two aggregations over the same
    // per-(user, day) distinct frame — at 100 TB you would persist
    // `activity` between them; both reductions shuffle on user_id /
    // (cohort, offset), never on raw events. Offsets and counts cast to
    // bigint on BOTH sides for schema parity.
    Q(
      "ev7_retention",
      """WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        |               FROM events GROUP BY 1),
        |  activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT cohort, CAST(datediff('day', cohort, d) AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        |FROM activity JOIN first USING (user_id)
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin
    ) { (s, d) =>
      // activity feeds both the cohort derivation and the final join —
      // localCheckpoint the (user, day) distinct frame so events scan
      // once (GC-reclaimable, unlike a session-pinned persist())
      val activity = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("d"))
        .distinct()
        .localCheckpoint(true)
      val first = activity.groupBy("user_id").agg(min("d").as("cohort"))
      activity.join(first, Seq("user_id"))
        .groupBy(col("cohort"),
          datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
        .agg(countDistinct("user_id").as("active_users"))
        .orderBy("cohort", "day_offset")
    },

    // R30c — VARIANT-typed semi-structured access (Spark 4's open-format
    // answer to RAW's just-in-time heterogeneous records): `parse_json`
    // once into a binary VARIANT column, then typed `variant_get` path
    // extraction — unlike ev3's per-access string re-parse, the parse
    // cost is paid once per row however many paths are read, and the
    // encoded value column-prunes/pushes like any binary. Absent paths
    // surface as NULL via `try_variant_get` (count() skips them — the
    // oracle's json_extract_string does the same).
    Q(
      "ev6_variant",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(count(json_extract_string(props,'$.absent')) AS BIGINT) AS n_absent,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_type"),
          variant_get(col("v"), "$.k", "bigint").as("k"),
          try_variant_get(col("v"), "$.absent", "string").as("absent"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"),
          count(col("absent")).as("n_absent"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // T13 — interval merging (gaps-and-islands over time RANGES): each
    // event opens a 10-minute activity interval; overlapping intervals
    // per user merge into coverage islands. The classic pattern: sort by
    // start within the user, island starts where start > running max of
    // prior ends, island id = running sum of starts. ALL INTEGER (epoch
    // seconds) — no float time math. One user-key shuffle, two window
    // passes over it; per-user output is bounded by island count.
    Q(
      "ev11_interval_merge",
      """WITH iv AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
        |  FROM events),
        |m AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM iv),
        |fl AS (SELECT user_id, s, e,
        |    CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS st
        |  FROM m),
        |isl AS (SELECT user_id, s, e,
        |    sum(st) OVER (PARTITION BY user_id ORDER BY s, e
        |                  ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl)
        |SELECT user_id, CAST(count(DISTINCT island) AS BIGINT) AS n_islands,
        |  CAST(sum(covered) AS BIGINT) AS covered_us
        |FROM (SELECT user_id, island, max(e) - min(s) AS covered
        |      FROM isl GROUP BY 1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
      val iv = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + 600000000L)
      iv
        .withColumn("prev_max", max(col("e"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("st",
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1L).otherwise(0L))
        .withColumn("island", sum(col("st"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg((max(col("e")) - min(col("s"))).as("covered"))
        .groupBy("user_id")
        .agg(countDistinct(col("island")).as("n_islands"),
          sum(col("covered")).as("covered_us"))
        .orderBy("user_id")
    },

    // T14 — event-type transition matrix (Markov bigrams over per-user
    // event sequences): for every consecutive (prev → next) pair within a
    // user's timeline, the global count and its per-prev-state probability
    // in INTEGER PERMILLE ((cnt·1000) DIV row_total — exact both engines,
    // no float division). One user-key shuffle for the sequence window
    // (the same partitioning ev2/ev11 use); the transition frame is
    // |types|² ≤ ~25 rows, so the row-total join is a broadcast.
    // The sequence order is total (ts, event_id) — retry-deterministic.
    Q(
      "ev12_transitions",
      """WITH seq AS (
        |  SELECT event_type AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next
        |  FROM events),
        |t AS (SELECT prev, next, count(*) AS cnt FROM seq
        |      WHERE next IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000 AS BIGINT) // CAST(sum(cnt) OVER (PARTITION BY prev)
        |    AS BIGINT) AS permille
        |FROM t ORDER BY prev, next""".stripMargin
    ) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val t = Tables.events(s, d)
        .select(col("event_type").as("prev"),
          lead(col("event_type"), 1).over(byUser).as("next"))
        .filter(col("next").isNotNull)
        .groupBy("prev", "next")
        .agg(count(lit(1)).as("cnt"))
      t.withColumn("permille",
          expr("cnt * 1000 DIV sum(cnt) OVER (PARTITION BY prev)"))
        .orderBy("prev", "next")
    },

    // T25 — conversion-latency distribution: seconds from a user's first
    // view to their first SUBSEQUENT purchase, summarized as exact order
    // statistics (p50/p90 as explicit rank picks over integer seconds —
    // shared integer rank formulas on both engines, so no
    // quantile-definition drift can bite). Per-user reductions shuffle
    // user keys; the rank pick then runs on DISTINCT-SECOND CELLS
    // (value at rank k = min value whose cumulative count reaches k),
    // so the one global window is bounded by the latency domain — an
    // earlier draft ranked the users-sized converts frame through a
    // single-partition row_number, the exact WindowExec bottleneck the
    // ev26/ev27 cell discipline exists to avoid. The oracle keeps the
    // literal rank-pick formulation; the hash match proves the cell
    // form is the same statistic.
    Q(
      "ev19_time_to_convert",
      """WITH fv AS (SELECT user_id, min(ts) AS vts FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |fp AS (SELECT e.user_id, min(e.ts) AS pts
        |       FROM events e JOIN fv ON e.user_id = fv.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > fv.vts GROUP BY 1),
        |dd AS (SELECT fv.user_id,
        |         (epoch_us(pts) - epoch_us(vts)) // 1000000 AS delta_s
        |       FROM fv JOIN fp ON fv.user_id = fp.user_id),
        |r AS (SELECT user_id, delta_s,
        |        row_number() OVER (ORDER BY delta_s, user_id) AS rn,
        |        count(*) OVER () AS n FROM dd)
        |SELECT CAST(max(n) AS BIGINT) AS n_converts,
        |  CAST(max(CASE WHEN rn = (n+1)//2 THEN delta_s END) AS BIGINT) AS p50_s,
        |  CAST(max(CASE WHEN rn = (n*9+9)//10 THEN delta_s END) AS BIGINT) AS p90_s,
        |  CAST(max(delta_s) AS BIGINT) AS max_s
        |FROM r""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vts"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(fv, Seq("user_id")).filter(col("ts") > col("vts"))
        .groupBy("user_id").agg(min("ts").as("pts"))
      val dd = fv.join(fp, Seq("user_id"))
        .select(col("user_id"),
          expr("(unix_micros(pts) - unix_micros(vts)) DIV 1000000").as("delta_s"))
      val cells = dd.groupBy("delta_s").agg(count(lit(1)).as("c"))
      // latency-second cells scale with the observation domain — the
      // cumulative runs blocked, never through one reducer (r7)
      val tot = cells.agg(sum("c").as("n"))
      val r = graft.operators.Blocked
        .cumulative(cells, Seq(col("delta_s")), Seq("c"))
        .withColumnRenamed("cum_c", "cum")
        .crossJoin(broadcast(tot))
      r.agg(max("n").cast("long").as("n_converts"),
        min(when(expr("cum >= (n+1) DIV 2"), col("delta_s"))).cast("long").as("p50_s"),
        min(when(expr("cum >= (n*9+9) DIV 10"), col("delta_s"))).cast("long").as("p90_s"),
        max("delta_s").cast("long").as("max_s"))
    },

    // T6b — typed XML extraction (the third semi-structured codec after
    // ev3/ev4's JSON paths): events re-serialized as XML records in the
    // scan projection, then parsed back through `from_xml` with an
    // explicit schema and aggregated. The encode half exists only
    // because the synthetic lake has no XML column (and assumes the
    // event-type vocabulary is XML-text-safe, which the fixture's
    // word-only types are — a real encoder would escape &<>); the
    // DECODE half is the operator under test, and the oracle aggregates
    // the original columns directly — any parse loss (types, escaping,
    // null handling) breaks the hash match. Scan-local both ways:
    // encode, parse, and the pre-aggregation all ride the projection.
    Q(
      "ev13_xml_parse",
      """SELECT event_type AS ty, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .select(format_string("<e><ty>%s</ty><uid>%d</uid></e>",
          col("event_type"), col("user_id")).as("x"))
        .select(from_xml(col("x"),
          org.apache.spark.sql.types.StructType.fromDDL("ty STRING, uid BIGINT")).as("r"))
        .groupBy(col("r.ty").as("ty"))
        .agg(count(lit(1)).as("n"), sum(col("r.uid")).as("sum_uid"))
        .orderBy("ty")
    },

    // L45 — consistent key pseudonymization: user ids replaced by a
    // salted SHA-256 BEFORE analytics/sharing, with referential
    // integrity preserved — the same salt+hash applied to any table
    // yields the same pseudonym, so joins and group-bys still line up
    // (proven here by grouping ON the pseudonym and hash-matching the
    // aggregate against DuckDB doing the same). Scan-local projection;
    // in production the salt is a secret config, not a literal, and
    // rotation = re-run (the mapping is deliberately one-way — no
    // lookup table to leak).
    Q(
      "ev14_pseudonymize",
      """SELECT sha256('graft:' || CAST(user_id AS VARCHAR)) AS pid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY pid""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(sha2(concat(lit("graft:"), col("user_id").cast("string")), 256).as("pid"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy("pid")
    },

    // T20 — behavioral co-occurrence: which event types happen TOGETHER
    // in the same (user, hour) context — the co-visitation matrix behind
    // "users who did X also did Y". Distinct (user, hour, type) first
    // (one fixed-width shuffle, bounding every context at |event_types|
    // rows), then a context-keyed self-join whose fan-out is ≤
    // |types|²/2 per context — never user×user or event×event. The
    // matrix is |types|² — tiny at any corpus scale.
    Q(
      "ev15_cooccurrence",
      """WITH d AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    event_type
        |  FROM events)
        |SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n
        |FROM d a JOIN d b
        |  ON a.user_id = b.user_id AND a.h = b.h AND a.event_type < b.event_type
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin
    ) { (s, d) =>
      val dctx = Tables.events(s, d)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .distinct()
        // both self-join sides read THIS frame — without the pin the
        // distinct (and the events scan under it) runs once per side
        .localCheckpoint(true)
      val a = dctx.select(col("user_id"), col("h"), col("event_type").as("ta"))
      val b = dctx.select(col("user_id"), col("h"), col("event_type").as("tb"))
      a.join(b, Seq("user_id", "h"))
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n"))
        .orderBy("ta", "tb")
    },

    // T21 — multi-touch attribution: each purchase's value split equally
    // (in EXACT integer cents) across the user's views in the preceding
    // 24 h — base = cents DIV n to every view, the remainder cent to the
    // EARLIEST rem views, so credit sums back to the purchase exactly
    // and the split is deterministic. The split runs on |cents| with the
    // sign re-applied: a negative DIV/% would hand the remainder to no
    // view (rn <= negative is never true), so refunds would NOT sum back
    // — the abs form keeps the conservation invariant for any sign.
    // (Both engines truncate integer division toward zero, so this is
    // about the invariant, not engine parity.) One user-key join
    // (fan-out bounded per user-day) + per-purchase windows; never
    // event×event globally.
    Q(
      "ev17_attribution",
      """WITH p AS (
        |  SELECT event_id AS pid, user_id, ts AS pts,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS vid, user_id, ts AS vts
        |      FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT pid, cents, vid, vts FROM p JOIN v USING (user_id)
        |  WHERE vts < pts AND vts >= pts - INTERVAL 24 HOURS),
        |w AS (
        |  SELECT pid, cents, vid,
        |    count(*) OVER (PARTITION BY pid) AS n,
        |    row_number() OVER (PARTITION BY pid ORDER BY vts, vid) AS rn
        |  FROM j)
        |SELECT pid, vid,
        |  (CASE WHEN cents < 0 THEN -1 ELSE 1 END)
        |    * (abs(cents) // n + CASE WHEN rn <= abs(cents) % n THEN 1 ELSE 0 END)
        |    AS credit_cents
        |FROM w ORDER BY pid, vid""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"),
          round(col("value") * 100).cast("long").as("cents"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
      val j = p.join(v, Seq("user_id"))
        .filter(col("vts") < col("pts") &&
          col("vts") >= col("pts") - expr("INTERVAL 24 HOURS"))
      val byP = Window.partitionBy("pid")
      j.select(col("pid"), col("cents"), col("vid"),
          count(lit(1)).over(byP).as("n"),
          row_number().over(byP.orderBy(col("vts"), col("vid"))).as("rn"))
        .select(col("pid"), col("vid"),
          (when(col("cents") < 0, -1L).otherwise(1L)
            * (expr("abs(cents) DIV n") +
              when(col("rn") <= abs(col("cents")) % col("n"), 1L).otherwise(0L)))
            .as("credit_cents"))
        .orderBy("pid", "vid")
    },

    // T6c — regex log-line extraction, the third semi-structured codec
    // exercise (JSON ev3/ev4, XML ev13, regex here): events re-rendered
    // as access-log-style lines in the scan projection, fields pulled
    // back out with regexp_extract (typed by cast), aggregated; the
    // oracle aggregates the ORIGINAL columns — a lossy pattern or a
    // wrong capture group breaks the hash. Scan-local end to end.
    Q(
      "ev18_log_parse",
      """SELECT event_type AS ty, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      // the log format's contract is SPACE-delimited fields, so the
      // capture is [^ ]+ (not \w+, which would silently truncate a
      // hyphenated or punctuated event type at the first non-word char)
      val line = format_string("evt=%s uid=%d ignored=1", col("event_type"), col("user_id"))
      Tables.events(s, d)
        .select(line.as("raw"))
        .select(
          regexp_extract(col("raw"), "evt=([^ ]+) uid=(\\d+)", 1).as("ty"),
          regexp_extract(col("raw"), "evt=([^ ]+) uid=(\\d+)", 2).cast("long").as("uid"))
        .groupBy("ty")
        .agg(count(lit(1)).as("n"), sum("uid").as("sum_uid"))
        .orderBy("ty")
    },

    // T22 — time-series linear interpolation (ev5's other half: gap-fill
    // puts ZEROS in empty buckets; forecasting inputs want the line
    // between the neighbors): hourly purchase revenue on the full spine,
    // missing hours = (prev·dr + next·dl) DIV (dl+dr) in EXACT integer
    // cents over integer hour distances; leading/trailing gaps take the
    // single available side. Two IGNORE-NULLS window passes over the
    // spine (hours-sized, not events-sized).
    Q(
      "ev16_interpolate",
      """WITH pe AS (SELECT ts, CAST(round(value*100) AS BIGINT) AS c
        |            FROM events WHERE event_type = 'purchase'),
        |bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM pe),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |                                (SELECT h1 FROM bounds),
        |                                INTERVAL 1 HOUR)) AS hr),
        |actual AS (
        |  SELECT date_trunc('hour', ts) AS hr, CAST(sum(c) AS BIGINT) AS cents
        |  FROM pe GROUP BY 1),
        |g AS (
        |  SELECT epoch_us(spine.hr) // 3600000000 AS hh, actual.cents
        |  FROM spine LEFT JOIN actual ON spine.hr = actual.hr),
        |n AS (
        |  SELECT hh, cents,
        |    last_value(CASE WHEN cents IS NOT NULL THEN struct_pack(h := hh, c := cents) END
        |      IGNORE NULLS) OVER (ORDER BY hh ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    first_value(CASE WHEN cents IS NOT NULL THEN struct_pack(h := hh, c := cents) END
        |      IGNORE NULLS) OVER (ORDER BY hh ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
        |  FROM g)
        |SELECT hh, cents IS NOT NULL AS observed,
        |  CASE WHEN cents IS NOT NULL THEN cents
        |       WHEN p IS NULL THEN f.c
        |       WHEN f IS NULL THEN p.c
        |       ELSE (p.c * (f.h - hh) + f.c * (hh - p.h)) // (f.h - p.h) END
        |    AS cents_filled
        |FROM n ORDER BY hh""".stripMargin
    ) { (s, d) =>
      val pe = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("ts"), round(col("value") * 100).cast("long").as("c"))
      val actual = pe.groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(sum("c").as("cents"))
      val bounds = pe.agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      val spine = bounds.select(
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
      val g = spine.join(actual, Seq("hr"), "left")
        .select(expr("unix_micros(hr) DIV 3600000000").as("hh"), col("cents"))
      val wb = Window.orderBy("hh").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.orderBy("hh").rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val marked = when(col("cents").isNotNull,
        struct(col("hh").as("h"), col("cents").as("c")))
      g.select(col("hh"), col("cents"),
          last(marked, ignoreNulls = true).over(wb).as("p"),
          first(marked, ignoreNulls = true).over(wf).as("f"))
        .select(col("hh"), col("cents").isNotNull.as("observed"),
          when(col("cents").isNotNull, col("cents"))
            .when(col("p").isNull, col("f.c"))
            .when(col("f").isNull, col("p.c"))
            .otherwise(expr("(p.c * (f.h - hh) + f.c * (hh - p.h)) DIV (f.h - p.h)"))
            .as("cents_filled"))
        .orderBy("hh")
    },

    // T29 — session path mining (sequential-pattern readout): the top
    // opening event-type sequences (first 3 events) across ev2's 30-min
    // gap sessions — the "how do sessions start" funnel-discovery query.
    // Sessions come from the same lag/cumsum windows as ev2 (one
    // user-key shuffle); each session reduces to ONE ordered path string
    // via sort_array(collect_list(struct)) — per-session arrays are
    // session-sized, bounded by the gap rule, and sliced to 3 before
    // leaving the aggregate. Top-20 paths under a total order.
    Q(
      "ev23_session_paths",
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |y AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x),
        |p AS (
        |  SELECT user_id, sid,
        |    array_to_string((list(event_type ORDER BY ts, event_id))[1:3], '>') AS path
        |  FROM y GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(array_join(
          slice(transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), 1, 3), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path")).limit(20)
    },

    // T26 — change-point detection via integer CUSUM: per event type,
    // the hour where the cumulative deviation of hourly counts from the
    // type's mean peaks. Deviations are cleared of the float mean by
    // scaling with the hour count (ev9's trick): CUSUM_h = n·cum_h − h·T
    // where cum_h is the running count, T the type total, n the number
    // of observed hours — exact longs under any partitioning. Peak =
    // max |CUSUM| with earliest-hour tie-break via a min-struct argmax.
    // Two fixed-width shuffles (hourly reduction, per-type windows over
    // the hours-sized frame).
    Q(
      "ev20_cusum",
      """WITH hc AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |              count(*) AS c
        |            FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, c,
        |        sum(c) OVER (PARTITION BY event_type ORDER BY hr
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        row_number() OVER (PARTITION BY event_type ORDER BY hr) AS h,
        |        sum(c) OVER (PARTITION BY event_type) AS t,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM hc),
        |s AS (SELECT event_type, hr, abs(n*cum - h*t) AS dev FROM w)
        |SELECT event_type,
        |  min(CASE WHEN dev = mx THEN hr END) AS peak_hour,
        |  CAST(max(dev) AS BIGINT) AS peak_dev
        |FROM (SELECT event_type, hr, dev,
        |        max(dev) OVER (PARTITION BY event_type) AS mx FROM s) z
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy("event_type")
      val ordered = byType.orderBy("hr")
      val w = hc
        .withColumn("cum", sum("c").over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("h", row_number().over(ordered).cast("long"))
        .withColumn("t", sum("c").over(byType))
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("dev", abs(col("n") * col("cum") - col("h") * col("t")))
      w.withColumn("mx", max("dev").over(byType))
        .groupBy("event_type")
        .agg(min(when(col("dev") === col("mx"), col("hr"))).as("peak_hour"),
          max("dev").as("peak_dev"))
        .orderBy("event_type")
    },

    // T27 — burst detection (rate-limit / abuse readout): each user's
    // maximum event count inside any trailing 60-second window, via a
    // VALUE-based RANGE frame over integer epoch seconds (q65's
    // precedent — peers at the same second aggregate together, which a
    // ROWS frame cannot express). Top-30 burstiest users with a total
    // order. One user-key shuffle; frames are per-user event-sized.
    Q(
      "ev21_burst",
      """WITH t AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
        |           FROM events),
        |b AS (SELECT user_id,
        |        count(*) OVER (PARTITION BY user_id ORDER BY sec
        |                       RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS w
        |      FROM t)
        |SELECT user_id, CAST(max(w) AS BIGINT) AS burst
        |FROM b GROUP BY 1
        |ORDER BY burst DESC, user_id LIMIT 30""".stripMargin
    ) { (s, d) =>
      val t = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) DIV 1000000").as("sec"))
      val frame = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-59, 0)
      t.withColumn("w", count(lit(1)).over(frame))
        .groupBy("user_id").agg(max("w").as("burst"))
        .orderBy(desc("burst"), col("user_id")).limit(30)
    },

    // T28 — lag-1 autocorrelation of the hourly count series per event
    // type (periodicity / trend readout): consecutive-hour pairs via
    // lead() over the observed-hours frame, then Pearson over the pairs
    // with EXACT integer moments and q60's fixed double tree — so the
    // hash compare is a true equality. Degenerate series (constant
    // counts) yield NULL on both engines (0/0). Hourly reduction is the
    // only events-sized shuffle.
    Q(
      "ev22_autocorr",
      """WITH hc AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |              count(*) AS c
        |            FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, c AS a,
        |        lead(c) OVER (PARTITION BY event_type ORDER BY hr) AS b
        |      FROM hc),
        |m AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |        CAST(sum(a*a) AS BIGINT) AS saa, CAST(sum(b*b) AS BIGINT) AS sbb,
        |        CAST(sum(a*b) AS BIGINT) AS sab
        |      FROM p WHERE b IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(n*sab - sa*sb AS DOUBLE)
        |    / (sqrt(CAST(n*saa - sa*sa AS DOUBLE))
        |       * sqrt(CAST(n*sbb - sb*sb AS DOUBLE))) AS autocorr
        |FROM m ORDER BY event_type""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val p = hc.select(col("event_type"), col("c").as("a"),
          lead("c", 1).over(Window.partitionBy("event_type").orderBy("hr")).as("b"))
        .filter(col("b").isNotNull)
      p.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("a").as("sa"), sum("b").as("sb"),
          sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
          sum(col("a") * col("b")).as("sab"))
        .select(col("event_type"), col("n"),
          ((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
            / (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
              * sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
            .as("autocorr"))
        .orderBy("event_type")
    },

    // T31 — hour-of-day periodicity (chi-square vs uniform): per event
    // type, how far the 24-bucket hour histogram departs from flat —
    // the "is this traffic diurnal or constant" readout behind ev9's
    // anomaly z-scores. ev20's clear-the-float-mean trick applied to
    // chi-square: Σ(obs−T/24)²/(T/24) = Σ(24·obs−T)² / (24·T), so the
    // numerator terms are EXACT integers (HUGEINT/decimal quadratics)
    // and the one double division happens on the aggregated bigints.
    // Missing hours enter as true zero cells via a 24-row spine per
    // type (broadcast — the spine is bounded by the clock, not the
    // data); peak hour is a min-struct argmax tie-broken to the
    // earliest hour. One fact-sized aggregate, everything after runs
    // on ≤ 24·|types| rows.
    Q(
      "ev24_hour_chisq",
      """WITH h AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hh,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS tot FROM h GROUP BY 1),
        |sp AS (SELECT event_type, g.hh FROM t
        |       CROSS JOIN (SELECT unnest(range(0, 24)) AS hh) g),
        |fl AS (SELECT sp.event_type, sp.hh, coalesce(h.c, 0) AS c
        |       FROM sp LEFT JOIN h ON sp.event_type = h.event_type AND sp.hh = h.hh),
        |q AS (SELECT fl.event_type, t.tot, fl.hh, fl.c,
        |        CAST(24 * fl.c - t.tot AS HUGEINT)
        |          * CAST(24 * fl.c - t.tot AS HUGEINT) AS d2
        |      FROM fl JOIN t USING (event_type)),
        |pk AS (SELECT event_type, hh AS peak_hour, c AS peak_count FROM (
        |         SELECT event_type, hh, c,
        |           row_number() OVER (PARTITION BY event_type
        |                              ORDER BY c DESC, hh) AS rn FROM h)
        |       WHERE rn = 1)
        |SELECT q.event_type, max(q.tot) AS n_events,
        |  CAST(sum(q.d2) AS DOUBLE) / (24.0 * CAST(max(q.tot) AS DOUBLE))
        |    AS chisq,
        |  max(pk.peak_hour) AS peak_hour, max(pk.peak_count) AS peak_count
        |FROM q JOIN pk USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val h = Tables.events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hh"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // spine fill + peak argmax both consume it
      val t = h.groupBy("event_type").agg(sum("c").as("tot"))
      val sp = t.select(col("event_type"), col("tot"),
        explode(sequence(lit(0L), lit(23L))).as("hh"))
      val fl = sp.join(h, Seq("event_type", "hh"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val d2 = (lit(24) * col("c") - col("tot")).cast("decimal(38,0)")
      val pk = h.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("c"), col("hh"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("hh").as("peak_hour"), col("c").as("peak_count"))
      fl.withColumn("d2", d2 * d2)
        .groupBy(col("event_type"))
        .agg(max("tot").as("n_events"), sum("d2").as("sd2"))
        .join(pk, Seq("event_type"))
        .select(col("event_type"), col("n_events"),
          (col("sd2").cast("double") / (lit(24.0) * col("n_events").cast("double")))
            .as("chisq"),
          col("peak_hour"), col("peak_count"))
        .orderBy("event_type")
    },

    // T32 — seasonal decomposition (trend-removed diurnal profile):
    // ev24 asks "is the hour histogram flat"; this answers "what is the
    // daily SHAPE once the multi-day trend is removed" — the classic
    // series = trend + seasonal + residual split, here reduced to the
    // seasonal component. ev5's zero-filled hour spine carries the
    // series; trend is a centered 24 h moving average in pure integers
    // (window SUM DIV 24 — counts are ≥ 0 so floor division agrees
    // cross-engine), edge hours without a full 24-row window are
    // excluded by an explicit window COUNT; the per-hour-of-day mean of
    // the detrended series is the ONE double division, over exact
    // integer sums. Windows run on the spine (hours × types), never the
    // event frame.
    Q(
      "ev25_seasonal",
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM events),
        |spine AS (
        |  SELECT g.g AS hr, t.event_type
        |  FROM (SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |                                      (SELECT h1 FROM bounds),
        |                                      INTERVAL 1 HOUR)) AS g) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        |actual AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT s.hr, s.event_type, CAST(coalesce(a.n, 0) AS BIGINT) AS c
        |  FROM spine s LEFT JOIN actual a ON s.hr = a.hr AND s.event_type = a.event_type),
        |tr AS (
        |  SELECT hr, event_type, c,
        |    sum(c) OVER w AS wsum, count(*) OVER w AS wn
        |  FROM series
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
        |det AS (
        |  SELECT event_type, CAST(hour(hr) AS BIGINT) AS hh,
        |    c - (wsum // 24) AS dv
        |  FROM tr WHERE wn = 24)
        |SELECT event_type, hh, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(CAST(sum(dv) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS seasonal
        |FROM det GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val bounds = ev.agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      val spine = bounds
        .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        .crossJoin(ev.select("event_type").distinct())
      val actual = ev.groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val series = spine.join(actual, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"), coalesce(col("n"), lit(0L)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(-12, 11)
      series
        .withColumn("wsum", sum("c").over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .filter(col("wn") === 24)
        .select(col("event_type"), hour(col("hr")).cast("long").as("hh"),
          (col("c") - expr("wsum DIV 24")).as("dv"))
        .groupBy("event_type", "hh")
        .agg(count(lit(1)).as("n_hours"),
          (sum("dv").cast("double") / count(lit(1)).cast("double")).as("seasonal"))
        .orderBy("event_type", "hh")
    },

    // T43 — Holt double-exponential-smoothing forecast (level + trend),
    // the first FORECASTING entry: per event type, daily zero-filled
    // counts (ev5's spine) fold through the Holt recurrence l' =
    // α·x + (1−α)(l+t), t' = β(l'−l) + (1−β)t with DYADIC α=1/2,
    // β=1/4, then project h = 1..7 days ahead. Cross-engine EXACT like
    // q93: the fold is a FIXED-ORDER left fold (Spark `aggregate` ≡
    // DuckDB `list_transform`+`list_reduce`, seeded {x₀, 0}) of
    // correctly-rounded IEEE ops written as the IDENTICAL expression
    // tree on both engines — no rounding, hash-equal doubles. The per-
    // type series is CALENDAR-bounded, so the fold arrays are tiny at
    // any corpus scale; the only fact-sized work is the day aggregate.
    Q(
      "ev35_holt_forecast",
      """WITH bounds AS (
        |  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
        |  FROM events),
        |spine AS (
        |  SELECT g.g AS dy, t.event_type
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM bounds),
        |                                      (SELECT d1 FROM bounds),
        |                                      INTERVAL 1 DAY)) AS g) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        |actual AS (
        |  SELECT date_trunc('day', ts) AS dy, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT s.event_type, s.dy, CAST(coalesce(a.n, 0) AS DOUBLE) AS x
        |  FROM spine s LEFT JOIN actual a
        |    ON s.dy = a.dy AND s.event_type = a.event_type),
        |arrs AS (
        |  SELECT event_type, list(x ORDER BY dy) AS xs FROM series GROUP BY 1),
        |fit AS (
        |  -- state rides a 2-LIST [l, t], NOT a struct: DuckDB's
        |  -- struct_pack inside a reduce lambda REBINDS acc.<field> to
        |  -- the newly computed field mid-struct (sequential-assignment
        |  -- semantics), silently corrupting any recurrence that reads
        |  -- the old value — found numerically during bring-up; list
        |  -- construction evaluates both elements against the OLD acc
        |  SELECT event_type,
        |    list_reduce(list_transform(xs, v -> [v, 0.0e0]),
        |      (acc, x) -> [
        |        0.5e0 * x[1] + 0.5e0 * (acc[1] + acc[2]),
        |        0.25e0 * ((0.5e0 * x[1] + 0.5e0 * (acc[1] + acc[2])) - acc[1])
        |             + 0.75e0 * acc[2]]) AS st
        |  FROM arrs)
        |SELECT event_type, h.h AS h,
        |  st[1] + CAST(h.h AS DOUBLE) * st[2] AS forecast
        |FROM fit CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
        |ORDER BY event_type, h""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val bounds = ev.agg(date_trunc("day", min("ts")).as("d0"),
        date_trunc("day", max("ts")).as("d1"))
      val spine = bounds
        .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("dy"))
        .crossJoin(ev.select("event_type").distinct())
      val actual = ev.groupBy(date_trunc("day", col("ts")).as("dy"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val series = spine.join(actual, Seq("dy", "event_type"), "left")
        .select(col("event_type"), col("dy"),
          coalesce(col("n"), lit(0L)).cast("double").as("x"))
      val arrs = series.groupBy("event_type")
        .agg(expr("transform(array_sort(collect_list(struct(dy, x))), s -> s.x)")
          .as("xs"))
      val fit = arrs.select(col("event_type"), expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
          |  named_struct('l', element_at(xs, 1), 't', CAST(0.0 AS DOUBLE)),
          |  (acc, v) -> named_struct(
          |    'l', 0.5D * v + 0.5D * (acc.l + acc.t),
          |    't', 0.25D * ((0.5D * v + 0.5D * (acc.l + acc.t)) - acc.l)
          |         + 0.75D * acc.t))""".stripMargin).as("st"))
      fit.crossJoin(spark_range_h(s))
        .select(col("event_type"), col("h"),
          (col("st.l") + col("h").cast("double") * col("st.t")).as("forecast"))
        .orderBy("event_type", "h")
    },

    // T51 — Holt-Winters ADDITIVE SEASONAL forecast (level + trend +
    // weekly seasonality), completing ev35's Holt: the state is a flat
    // 9-list [l, t, s₁..s₇] whose seasonal block ROTATES one slot per
    // step — s₁ is always the active season, so the fold needs no
    // mutable indexed write (neither engine's lambda can express one).
    // Seed: l₀ = mean of week 1 (fixed-order sum), t₀ = 0, sᵢ = xᵢ−l₀.
    // Dyadic α=1/2, β=1/4, γ=1/2 keep every op a correctly-rounded
    // IEEE primitive of the IDENTICAL expression tree on both engines —
    // hash-equal doubles, no rounding (ev35/q93 discipline). DuckDB's
    // list_reduce has no seed parameter: the seed 9-list is PREPENDED
    // and each x is padded to a 9-list (ev36 precedent). Forecast
    // x̂(h) = l + h·t + s_h for h = 1..7.
    Q(
      "ev43_holt_winters",
      """WITH bounds AS (
        |  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
        |  FROM events),
        |spine AS (
        |  SELECT g.g AS dy, t.event_type
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM bounds),
        |                                      (SELECT d1 FROM bounds),
        |                                      INTERVAL 1 DAY)) AS g) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        |actual AS (
        |  SELECT date_trunc('day', ts) AS dy, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT s.event_type, s.dy, CAST(coalesce(a.n, 0) AS DOUBLE) AS x
        |  FROM spine s LEFT JOIN actual a
        |    ON s.dy = a.dy AND s.event_type = a.event_type),
        |arrs AS (
        |  SELECT event_type, list(x ORDER BY dy) AS xs FROM series GROUP BY 1),
        |seeded AS (
        |  SELECT event_type, xs,
        |    (xs[1]+xs[2]+xs[3]+xs[4]+xs[5]+xs[6]+xs[7]) / 7.0e0 AS l0
        |  FROM arrs),
        |fit AS (
        |  SELECT event_type,
        |    list_reduce(
        |      list_concat(
        |        [[l0, 0.0e0, xs[1]-l0, xs[2]-l0, xs[3]-l0, xs[4]-l0,
        |          xs[5]-l0, xs[6]-l0, xs[7]-l0]],
        |        list_transform(xs[8:], v -> [v, 0.0e0, 0.0e0, 0.0e0, 0.0e0,
        |                                     0.0e0, 0.0e0, 0.0e0, 0.0e0])),
        |      -- DuckDB's list_concat is strictly binary -> nested calls
        |      (acc, x) -> list_concat(list_concat(
        |        [0.5e0*(x[1] - acc[3]) + 0.5e0*(acc[1] + acc[2]),
        |         0.25e0*((0.5e0*(x[1] - acc[3]) + 0.5e0*(acc[1] + acc[2]))
        |                 - acc[1]) + 0.75e0*acc[2]],
        |        acc[4:9]),
        |        [0.5e0*(x[1] - (0.5e0*(x[1] - acc[3])
        |                        + 0.5e0*(acc[1] + acc[2]))) + 0.5e0*acc[3]]))
        |      AS st
        |  FROM seeded)
        |SELECT event_type, h.h AS h,
        |  st[1] + CAST(h.h AS DOUBLE) * st[2] + st[2 + h.h] AS forecast
        |FROM fit CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h
        |ORDER BY event_type, h""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val bounds = ev.agg(date_trunc("day", min("ts")).as("d0"),
        date_trunc("day", max("ts")).as("d1"))
      val spine = bounds
        .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("dy"))
        .crossJoin(ev.select("event_type").distinct())
      val actual = ev.groupBy(date_trunc("day", col("ts")).as("dy"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val series = spine.join(actual, Seq("dy", "event_type"), "left")
        .select(col("event_type"), col("dy"),
          coalesce(col("n"), lit(0L)).cast("double").as("x"))
      val arrs = series.groupBy("event_type")
        .agg(expr("transform(array_sort(collect_list(struct(dy, x))), s -> s.x)")
          .as("xs"))
        .withColumn("l0", expr(
          """(element_at(xs,1)+element_at(xs,2)+element_at(xs,3)+element_at(xs,4)
            |+element_at(xs,5)+element_at(xs,6)+element_at(xs,7)) / 7.0D""".stripMargin))
      val fit = arrs.select(col("event_type"), expr(
        """aggregate(
          |  slice(xs, 8, greatest(size(xs) - 7, 0)),
          |  concat(array(l0, CAST(0.0 AS DOUBLE)),
          |         transform(slice(xs, 1, 7), v -> v - l0)),
          |  (acc, x) -> concat(
          |    array(
          |      0.5D*(x - element_at(acc,3)) + 0.5D*(element_at(acc,1) + element_at(acc,2)),
          |      0.25D*((0.5D*(x - element_at(acc,3)) + 0.5D*(element_at(acc,1) + element_at(acc,2)))
          |             - element_at(acc,1)) + 0.75D*element_at(acc,2)),
          |    slice(acc, 4, 6),
          |    array(0.5D*(x - (0.5D*(x - element_at(acc,3))
          |                     + 0.5D*(element_at(acc,1) + element_at(acc,2))))
          |          + 0.5D*element_at(acc,3))))""".stripMargin).as("st"))
      fit.crossJoin(spark_range_h(s))
        .select(col("event_type"), col("h"),
          (element_at(col("st"), lit(1)) + col("h").cast("double") * element_at(col("st"), lit(2))
            + element_at(col("st"), (lit(2) + col("h")).cast("int"))).as("forecast"))
        .orderBy("event_type", "h")
    },

    // T44 — clamped running balance: per user, fold the signed event
    // deltas in (ts, event_id) order with balance = max(0, balance + δ)
    // — a stateful recurrence NO window frame can express (the clamp
    // makes it non-linear), evaluated as a higher-order aggregate()
    // fold over the per-user event list. Per-user lists are bounded by
    // per-user event counts (≤86 at sf0.01; an unbounded key would need
    // the flatMapGroupsWithState path instead — documented tradeoff).
    // Exact integer cents; DuckDB folds the same list via list_reduce
    // with a prepended 0 seed (its list_reduce has no init parameter).
    Q(
      "ev36_clamped_balance",
      """WITH e AS (SELECT user_id, ts, event_id,
        |  CASE WHEN event_type IN ('purchase','signup')
        |       THEN CAST(round(value*100) AS BIGINT)
        |       ELSE -CAST(round(value*100) AS BIGINT) END AS delta
        |  FROM events),
        |l AS (SELECT user_id, count(*) AS n_events,
        |  list(delta ORDER BY ts, event_id) AS ds FROM e GROUP BY 1)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(list_reduce(list_prepend(0, ds),
        |       (a, x) -> greatest(a + x, 0)) AS BIGINT) AS balance_cents
        |FROM l ORDER BY user_id""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type").isin("purchase", "signup"),
            round(col("value") * 100).cast("long"))
            .otherwise(-round(col("value") * 100).cast("long")).as("delta"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("transform(array_sort(collect_list(struct(ts, event_id, delta))), x -> x.delta)")
            .as("ds"))
        .select(col("user_id"), col("n_events"),
          expr("aggregate(ds, 0L, (a, x) -> greatest(a + x, 0L))")
            .as("balance_cents"))
        .orderBy("user_id")
    },

    // T45 — max concurrency (sweep line): each event opens a 30-min
    // interval; +1/-1 boundary deltas, running sum, global peak + first
    // time it is reached. The oracle uses ONE global-order window; the
    // Spark plan is the DISTRIBUTED prefix sum — within-day running
    // sums partitioned by day, plus a carry of prior days' total deltas
    // (a days-sized frame, broadcast back) — no single-partition window
    // ever touches the fact table. Tie order (t, +1 before −1,
    // event_id) makes the sweep deterministic and intervals inclusive.
    Q(
      "ev37_max_concurrency",
      """WITH iv AS (SELECT event_id, ts AS s,
        |    ts + INTERVAL 30 MINUTE AS e FROM events),
        |pts AS (SELECT s AS t, 1 AS d, event_id FROM iv
        |  UNION ALL SELECT e AS t, -1 AS d, event_id FROM iv),
        |r AS (SELECT t, sum(d) OVER (ORDER BY t, d DESC, event_id) AS c
        |  FROM pts),
        |m AS (SELECT max(c) AS peak FROM r)
        |SELECT CAST(peak AS BIGINT) AS peak,
        |  (SELECT min(t) FROM r WHERE c = (SELECT peak FROM m)) AS at_ts
        |FROM m""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val pts = ev.select(col("ts").as("t"), lit(1L).as("dl"), col("event_id"))
        .unionByName(ev.select(
          (col("ts") + expr("INTERVAL 30 MINUTE")).as("t"),
          lit(-1L).as("dl"), col("event_id")))
        .withColumn("day", date_trunc("day", col("t")))
      val within = pts.withColumn("run", sum("dl").over(
        Window.partitionBy("day")
          .orderBy(col("t"), col("dl").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // carry-in per day: cumulative total delta of all PRIOR days —
      // a days-sized frame, window cost trivial, broadcast back
      val carry = pts.groupBy("day").agg(sum("dl").as("dtot"))
        .withColumn("carry", coalesce(sum("dtot").over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("day", "carry")
      val r = within.join(broadcast(carry), Seq("day"))
        .select(col("t"), (col("carry") + col("run")).as("c"))
        .localCheckpoint(true)
      val m = r.agg(max("c").as("peak"))
      r.join(broadcast(m), col("c") === col("peak"))
        .agg(max("peak").as("peak"), min("t").as("at_ts"))
    },

    // T46 — rolling 7-day active users (WAU curve): each distinct
    // (day, user) activity cell is EXPLODED to the 7 window-ends it
    // participates in (a fixed 7× fan-out of the deduped day-user
    // frame — linear, no range join, no re-scan per window), then
    // distinct-counted per window end. The spine join caps windows at
    // the observed range so the curve has no trailing pad.
    Q(
      "ev38_rolling_wau",
      """WITH act AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS dy,
        |    user_id FROM events),
        |mx AS (SELECT max(dy) AS md FROM act),
        |sp AS (SELECT dy + CAST(o AS INTEGER) AS wend, user_id
        |  FROM act, (SELECT unnest(generate_series(0, 6)) AS o) q),
        |w AS (SELECT wend, count(DISTINCT user_id) AS wau
        |  FROM sp, mx WHERE wend <= md GROUP BY 1)
        |SELECT wend, CAST(wau AS BIGINT) AS wau FROM w ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val act = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).cast("date").as("dy"), col("user_id"))
        .distinct()
      val mx = act.agg(max("dy").as("md"))
      act.withColumn("o", explode(expr("sequence(0, 6)")))
        .select(expr("date_add(dy, o)").as("wend"), col("user_id"))
        .crossJoin(broadcast(mx))
        .filter(col("wend") <= col("md"))
        .groupBy("wend").agg(countDistinct("user_id").as("wau"))
        .orderBy("wend")
    },

    // T47 — weekly growth accounting (new / retained / resurrected /
    // churned): the standard DAU-accounting identity over per-user week
    // activity. One (user, week) dedup, lag + first-week windows on the
    // user key, churn as an anti-join against the next week — every
    // step a single key shuffle; output bounded by the calendar.
    Q(
      "ev39_growth_accounting",
      """WITH wk AS (SELECT DISTINCT date_trunc('week', ts) AS w, user_id
        |  FROM events),
        |x AS (SELECT user_id, w,
        |    min(w) OVER (PARTITION BY user_id) AS firstw,
        |    lag(w) OVER (PARTITION BY user_id ORDER BY w) AS prevw FROM wk),
        |mx AS (SELECT max(w) AS mw FROM wk),
        |stat AS (SELECT w,
        |    sum(CASE WHEN w = firstw THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN prevw = w - INTERVAL 7 DAY THEN 1 ELSE 0 END)
        |      AS n_retained,
        |    sum(CASE WHEN w <> firstw
        |             AND (prevw IS NULL OR prevw <> w - INTERVAL 7 DAY)
        |        THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM x GROUP BY 1),
        |nxt AS (SELECT a.w + INTERVAL 7 DAY AS w, count(*) AS n_churned
        |  FROM x a, mx
        |  WHERE a.w + INTERVAL 7 DAY <= mw AND NOT EXISTS (
        |    SELECT 1 FROM wk b WHERE b.user_id = a.user_id
        |      AND b.w = a.w + INTERVAL 7 DAY)
        |  GROUP BY 1)
        |SELECT stat.w, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
        |FROM stat LEFT JOIN nxt ON stat.w = nxt.w ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val wk = Tables.events(s, d)
        .select(date_trunc("week", col("ts")).as("w"), col("user_id"))
        .distinct().localCheckpoint(true)
      val uw = Window.partitionBy("user_id")
      val x = wk
        .withColumn("firstw", min("w").over(uw))
        .withColumn("prevw", lag("w", 1).over(uw.orderBy("w")))
        .localCheckpoint(true)
      val mx = wk.agg(max("w").as("mw"))
      val stat = x.groupBy("w").agg(
        sum(when(col("w") === col("firstw"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prevw") === col("w") - expr("INTERVAL 7 DAY"), 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("w") =!= col("firstw") &&
            (col("prevw").isNull ||
             col("prevw") =!= col("w") - expr("INTERVAL 7 DAY")), 1L)
          .otherwise(0L)).as("n_resurrected"))
      val nxt = x.crossJoin(broadcast(mx))
        .filter(col("w") + expr("INTERVAL 7 DAY") <= col("mw"))
        .select(col("user_id"), (col("w") + expr("INTERVAL 7 DAY")).as("w"))
        .join(wk, Seq("user_id", "w"), "left_anti")
        .groupBy("w").agg(count(lit(1)).as("n_churned"))
      stat.join(nxt, Seq("w"), "left")
        .select(col("w"), col("n_new"), col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("w")
    },

    // T48 — power-user curve: per month, the distribution of users by
    // active-day count (the L-curve product analytics reads engagement
    // from). Two nested exact aggregations, both map-side combined.
    Q(
      "ev41_power_curve",
      """WITH ad AS (SELECT date_trunc('month', ts) AS m, user_id,
        |    count(DISTINCT date_trunc('day', ts)) AS days
        |  FROM events GROUP BY 1, 2)
        |SELECT m, CAST(days AS BIGINT) AS days, count(*) AS users
        |FROM ad GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("month", col("ts")).as("m"), col("user_id"))
        .agg(countDistinct(date_trunc("day", col("ts"))).as("days"))
        .groupBy("m", "days").agg(count(lit(1)).as("users"))
        .orderBy("m", "days")
    },

    // T52 — multi-lag autocorrelation function (the ACF plot, completing
    // ev22's lag-1): six lead columns off ONE window pass over the
    // observed-hours frame, stacked to (type, lag) pairs; Pearson per
    // (type, lag) with exact integer moments and ev22's fixed double
    // tree. The stack is a 6-way union of the HOURS-sized frame, never
    // the event frame — cost is the hourly reduction plus bounded
    // window/aggregate work.
    Q(
      "ev44_acf",
      """WITH hc AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |              count(*) AS c
        |            FROM events GROUP BY 1, 2),
        |ld AS (SELECT event_type, c,
        |         lead(c, 1) OVER w AS l1, lead(c, 2) OVER w AS l2,
        |         lead(c, 3) OVER w AS l3, lead(c, 4) OVER w AS l4,
        |         lead(c, 5) OVER w AS l5, lead(c, 6) OVER w AS l6
        |       FROM hc WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |p AS (
        |  SELECT event_type, 1 AS lag, c AS a, l1 AS b FROM ld UNION ALL
        |  SELECT event_type, 2, c, l2 FROM ld UNION ALL
        |  SELECT event_type, 3, c, l3 FROM ld UNION ALL
        |  SELECT event_type, 4, c, l4 FROM ld UNION ALL
        |  SELECT event_type, 5, c, l5 FROM ld UNION ALL
        |  SELECT event_type, 6, c, l6 FROM ld),
        |m AS (SELECT event_type, CAST(lag AS BIGINT) AS lag, count(*) AS n,
        |        CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |        CAST(sum(a*a) AS BIGINT) AS saa, CAST(sum(b*b) AS BIGINT) AS sbb,
        |        CAST(sum(a*b) AS BIGINT) AS sab
        |      FROM p WHERE b IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, lag, n,
        |  CAST(n*sab - sa*sb AS DOUBLE)
        |    / (sqrt(CAST(n*saa - sa*sa AS DOUBLE))
        |       * sqrt(CAST(n*sbb - sb*sb AS DOUBLE))) AS acf
        |FROM m ORDER BY event_type, lag""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("hr")
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val ld = hc.select(col("event_type") +: col("c") +:
        (1 to 6).map(k => lead("c", k).over(w).as(s"l$k")): _*)
      val p = (1 to 6).map(k =>
          ld.select(col("event_type"), lit(k.toLong).as("lag"),
            col("c").as("a"), col(s"l$k").as("b")))
        .reduce(_ unionByName _)
        .filter(col("b").isNotNull)
      p.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"), sum("a").as("sa"), sum("b").as("sb"),
          sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
          sum(col("a") * col("b")).as("sab"))
        .select(col("event_type"), col("lag"), col("n"),
          ((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
            / (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
              * sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
            .as("acf"))
        .orderBy("event_type", "lag")
    },

    // T53 — seasonally-adjusted anomaly detection, closing the
    // time-series family (trend ev25, forecast ev35/ev43, ACF ev44):
    // residual = series − centered-24h trend − hour-of-day seasonal
    // mean, z-scored. The per-row residual takes ONE division
    // (seasonal mean) and is micro-quantized to a 1e6-grid BIGINT
    // (tx19 discipline) so the z moments are exact integers — squares
    // ride decimal/HUGEINT (r² sums pass 2^63 at sf≥0.1) — and
    // z = (r·n − Σr)/√(n·Σr² − (Σr)²) is ONE double tree over them.
    // ev9 z-scores raw hour-of-day counts; this one removes trend AND
    // seasonality first, which is what makes the flag "anomalous for
    // a Tuesday 3pm", not just "busy".
    Q(
      "ev45_seasonal_anomaly",
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM events),
        |spine AS (
        |  SELECT g.g AS hr, t.event_type
        |  FROM (SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |                                      (SELECT h1 FROM bounds),
        |                                      INTERVAL 1 HOUR)) AS g) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        |actual AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |series AS (
        |  SELECT s.event_type, s.hr, coalesce(a.n, 0) AS c
        |  FROM spine s LEFT JOIN actual a
        |    ON s.hr = a.hr AND s.event_type = a.event_type),
        |tr AS (
        |  SELECT event_type, hr, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY hr
        |                 ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS wsum,
        |    count(*) OVER (PARTITION BY event_type ORDER BY hr
        |                   ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS wn
        |  FROM series),
        |det AS (
        |  SELECT event_type, hr, CAST(hour(hr) AS BIGINT) AS hh,
        |    c - (wsum // 24) AS dv
        |  FROM tr WHERE wn = 24),
        |sea AS (SELECT event_type, hh, CAST(sum(dv) AS BIGINT) AS sdv,
        |          CAST(count(*) AS BIGINT) AS ndv
        |        FROM det GROUP BY 1, 2),
        |resid AS (
        |  SELECT d.event_type, d.hr, d.dv,
        |    CAST(round(1e6 * (d.dv - CAST(sdv AS DOUBLE) / ndv)) AS BIGINT) AS r
        |  FROM det d JOIN sea ON sea.event_type = d.event_type AND sea.hh = d.hh),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(r) AS BIGINT) AS sr,
        |        CAST(sum(CAST(r AS HUGEINT) * r) AS HUGEINT) AS srr
        |      FROM resid GROUP BY 1)
        |SELECT event_type, hr, CAST(dv AS BIGINT) AS detrended,
        |  r AS resid_micro,
        |  round(CAST(r * n - sr AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * srr
        |                    - CAST(sr AS HUGEINT) * sr AS DOUBLE)), 6) AS z
        |FROM resid JOIN m USING (event_type)
        |ORDER BY abs(round(CAST(r * n - sr AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * srr
        |                    - CAST(sr AS HUGEINT) * sr AS DOUBLE)), 6)) DESC,
        |  event_type, hr LIMIT 20""".stripMargin
    ) { (s, d) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val ev = Tables.events(s, d)
      val bounds = ev.agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      val spine = bounds
        .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        .crossJoin(ev.select("event_type").distinct())
      val actual = ev.groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val series = spine.join(actual, Seq("hr", "event_type"), "left")
        .select(col("event_type"), col("hr"), coalesce(col("n"), lit(0L)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 11)
      val det = series
        .withColumn("wsum", sum("c").over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .filter(col("wn") === 24)
        .select(col("event_type"), col("hr"), hour(col("hr")).cast("long").as("hh"),
          (col("c") - expr("wsum DIV 24")).as("dv"))
      val sea = det.groupBy("event_type", "hh")
        .agg(sum("dv").as("sdv"), count(lit(1)).as("ndv"))
      val resid = det.join(sea, Seq("event_type", "hh"))
        .select(col("event_type"), col("hr"), col("dv"),
          expr("CAST(round(1e6 * (dv - CAST(sdv AS DOUBLE) / ndv)) AS BIGINT)")
            .as("r"))
      val m = resid.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("r").as("sr"),
          sum(dec(col("r")) * col("r")).as("srr"))
      val z = (col("r") * col("n") - col("sr")).cast("double") /
        sqrt((dec(col("n")) * col("srr") - dec(col("sr")) * col("sr"))
          .cast("double"))
      resid.join(m, Seq("event_type"))
        .select(col("event_type"), col("hr"), col("dv").cast("long").as("detrended"),
          col("r").as("resid_micro"), round(z, 6).as("z"))
        .orderBy(abs(col("z")).desc, col("event_type"), col("hr"))
        .limit(20)
    },

    // T54 — sequential pattern mining (PrefixSpan's contiguous-trigram
    // cut): per user, consecutive event-type trigrams in (ts, event_id)
    // order; support = how many DISTINCT users exhibit the pattern —
    // the "what do people actually do, in order" readout behind ev12's
    // single-step transition matrix. One keyed window (two leads), one
    // distinct, one count — all partitioned by user; top-20 under a
    // total order.
    Q(
      "ev46_trigram_patterns",
      """WITH s AS (
        |  SELECT user_id, event_type AS a,
        |    lead(event_type, 1) OVER w AS b,
        |    lead(event_type, 2) OVER w AS c
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (SELECT DISTINCT user_id, a || '>' || b || '>' || c AS pattern
        |      FROM s WHERE b IS NOT NULL AND c IS NOT NULL)
        |SELECT pattern, CAST(count(*) AS BIGINT) AS support
        |FROM t GROUP BY 1 ORDER BY support DESC, pattern LIMIT 20""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("a"),
          lead("event_type", 1).over(w).as("b"),
          lead("event_type", 2).over(w).as("c"))
        .filter(col("b").isNotNull && col("c").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("a"), col("b"), col("c")).as("pattern"))
        .distinct()
        .groupBy("pattern").agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("pattern"))
        .limit(20)
    },

    // T55 — bounded-window funnel conversion: of the users who ever
    // viewed, how many purchased within ONE HOUR of their FIRST view —
    // the time-budgeted form of ev8's unbounded funnel (marketing SLAs
    // are windowed; "eventually converted" is not the same metric).
    // First-view is a per-user min; the purchase probe is a keyed join
    // on user_id with the interval predicate evaluated post-join; one
    // conditional max per user collapses multiplicity. Exact integer
    // permille.
    Q(
      "ev47_timed_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS first_view
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT v.user_id,
        |    max(CASE WHEN p.ts > v.first_view
        |               AND p.ts <= v.first_view + INTERVAL 1 HOUR
        |             THEN 1 ELSE 0 END) AS conv
        |  FROM v LEFT JOIN events p
        |    ON p.user_id = v.user_id AND p.event_type = 'purchase'
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS viewers,
        |  CAST(sum(conv) AS BIGINT) AS converted_1h,
        |  (CAST(sum(conv) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT)
        |    AS conv_permille
        |FROM c""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("first_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      v.join(p, Seq("user_id"), "left")
        .groupBy("user_id")
        .agg(max(when(col("p_ts") > col("first_view") &&
          col("p_ts") <= col("first_view") + expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L)).as("conv"))
        .agg(count(lit(1)).as("viewers"), sum("conv").as("converted_1h"))
        .select(col("viewers"), col("converted_1h"),
          expr("(converted_1h * 1000) DIV viewers").as("conv_permille"))
    },

    // T56 — DAU/MAU stickiness per month: mean daily actives over
    // monthly actives, the engagement-intensity readout beside T46's
    // WAU curve and T47's growth accounting. Day-user dedup once, then
    // calendar-bounded aggregates; exact integer permille
    // ((Σ dau)·1000 DIV (days·mau)).
    Q(
      "ev48_stickiness",
      """WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS dy,
        |    user_id FROM events),
        |dd AS (SELECT dy, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
        |mo AS (SELECT CAST(date_trunc('month', dy) AS DATE) AS mon,
        |    CAST(sum(dau) AS BIGINT) AS sdau, CAST(count(*) AS BIGINT) AS ndays
        |  FROM dd GROUP BY 1),
        |mm AS (SELECT CAST(date_trunc('month', dy) AS DATE) AS mon,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM du GROUP BY 1)
        |SELECT mon, ndays, sdau, mau,
        |  (sdau * 1000) // (ndays * mau) AS stickiness_permille
        |FROM mo JOIN mm USING (mon) ORDER BY mon""".stripMargin
    ) { (s, d) =>
      val du = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).cast("date").as("dy"), col("user_id"))
        .distinct()
        .localCheckpoint(true) // daily + monthly branches both consume it
      val dd = du.groupBy("dy").agg(count(lit(1)).as("dau"))
      val mo = dd.groupBy(date_trunc("month", col("dy")).cast("date").as("mon"))
        .agg(sum("dau").as("sdau"), count(lit(1)).as("ndays"))
      val mm = du.groupBy(date_trunc("month", col("dy")).cast("date").as("mon"))
        .agg(countDistinct("user_id").as("mau"))
      mo.join(mm, Seq("mon"))
        .select(col("mon"), col("ndays"), col("sdau"), col("mau"),
          expr("(sdau * 1000) DIV (ndays * mau)").as("stickiness_permille"))
        .orderBy("mon")
    },

    // T60 — EWMA control chart (the classic SPC smoother beside T26's
    // CUSUM): per event type, the hourly count series smoothed by
    // α = 1/5 in PURE INTEGER algebra — state rides 1e6-scaled BIGINTs,
    // each step s' = (4s + 1e6·x) DIV 5 floors identically on both
    // engines (everything non-negative), so the whole trajectory is
    // EXACT, no float recurrence to drift. The per-row state comes from
    // folding the window-prefix count list (q93's fold recipe; frames
    // are calendar-bounded per type, never event-sized). Residual =
    // 1e6·x − s_prev via lag on the computed state; the 3σ outlier flag
    // is the exact integer cross-multiply (n·r − S)² > 9·(n·SS − S²)
    // with squares in decimal(38,0)/HUGEINT — no variance division
    // anywhere.
    Q(
      "ev52_ewma",
      """WITH hc AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, hr, c,
        |        list_reduce(
        |          list_prepend(CAST(-1 AS BIGINT),
        |            list(c) OVER (PARTITION BY event_type ORDER BY hr
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |          (acc, x) -> CASE WHEN acc < 0 THEN 1000000 * x
        |                           ELSE (4 * acc + 1000000 * x) // 5 END)
        |          AS ewma_e6
        |      FROM hc),
        |r AS (SELECT event_type, hr, c, ewma_e6,
        |        coalesce(1000000 * c
        |          - lag(ewma_e6) OVER (PARTITION BY event_type ORDER BY hr),
        |          0) AS resid_e6
        |      FROM f),
        |st AS (SELECT event_type, count(*) AS n,
        |         CAST(sum(resid_e6) AS HUGEINT) AS sr,
        |         sum(CAST(resid_e6 AS HUGEINT) * resid_e6) AS ss
        |       FROM r GROUP BY 1)
        |SELECT r.event_type, r.hr, r.c, r.ewma_e6, r.resid_e6,
        |  CASE WHEN (n * CAST(resid_e6 AS HUGEINT) - sr)
        |              * (n * CAST(resid_e6 AS HUGEINT) - sr)
        |            > 9 * (n * ss - sr * sr) THEN 1 ELSE 0 END AS outlier
        |FROM r JOIN st ON r.event_type = st.event_type
        |ORDER BY r.event_type, r.hr""".stripMargin
    ) { (s, d) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val ordered = Window.partitionBy("event_type").orderBy("hr")
      val f = hc.withColumn("cs", collect_list("c").over(
          ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ewma_e6", expr(
          """aggregate(cs, CAST(-1 AS BIGINT),
            |  (acc, x) -> CASE WHEN acc < 0 THEN 1000000 * x
            |                   ELSE (4 * acc + 1000000 * x) DIV 5 END)"""
            .stripMargin))
        .drop("cs")
      val r = f.withColumn("resid_e6",
          coalesce(lit(1000000) * col("c") - lag("ewma_e6", 1).over(ordered),
            lit(0L)))
        .localCheckpoint(true) // the stats aggregate and the flag both read it
      val st = r.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(dec(col("resid_e6"))).as("sr"),
          sum(dec(col("resid_e6")) * col("resid_e6")).as("ss"))
      r.join(st, "event_type")
        .select(col("event_type"), col("hr"), col("c"), col("ewma_e6"),
          col("resid_e6"),
          when((dec(col("n")) * col("resid_e6") - col("sr"))
              * (dec(col("n")) * col("resid_e6") - col("sr"))
              > lit(9) * (dec(col("n")) * col("ss") - col("sr") * col("sr")), 1L)
            .otherwise(0L).as("outlier"))
        .orderBy("event_type", "hr")
    },

    // T61 — Markov steady-state by fixed-round power iteration: ev12's
    // transition matrix asked "where next"; this asks "where does the
    // process SPEND ITS TIME". The row-stochastic matrix is quantized
    // ONCE to exact 1e6-unit permicro entries ((cnt·1e6) DIV rowtotal),
    // the uniform start vector likewise, and each of the 8 rounds is
    // one exact integer mat-vec (Σ vᵢ·pᵢⱼ) DIV 1e6 — gr2 PageRank's
    // unrolled-oracle recipe on the TYPE-VOCABULARY-sized matrix (the
    // fact is touched once to count transitions; every round is
    // |types|²). The oracle unrolls the identical 8 rounds as generated
    // CTEs.
    Q(
      "ev53_markov_steady", {
        val rounds = (1 to 8).map { i =>
          s"""r$i AS (SELECT m.next AS state,
             |  CAST(sum(r${i - 1}.v_e6 * m.p_e6) // 1000000 AS BIGINT) AS v_e6
             |  FROM r${i - 1} JOIN m ON r${i - 1}.state = m.prev GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH seq AS (
           |  SELECT event_type AS prev,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |      AS next
           |  FROM events),
           |t AS (SELECT prev, next, count(*) AS cnt FROM seq
           |      WHERE next IS NOT NULL GROUP BY 1, 2),
           |m AS (SELECT prev, next,
           |        (cnt * 1000000) // sum(cnt) OVER (PARTITION BY prev) AS p_e6
           |      FROM t),
           |k AS (SELECT count(DISTINCT event_type) AS k FROM events),
           |r0 AS (SELECT event_type AS state,
           |         CAST(1000000 // k AS BIGINT) AS v_e6
           |       FROM (SELECT DISTINCT event_type FROM events), k),
           |$rounds
           |SELECT state, v_e6 FROM r8 ORDER BY state""".stripMargin
      }
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val t = ev.select(col("event_type").as("prev"),
          lead(col("event_type"), 1).over(byUser).as("next"))
        .filter(col("next").isNotNull)
        .groupBy("prev", "next").agg(count(lit(1)).as("cnt"))
      val m = t.select(col("prev"), col("next"),
          expr("(cnt * 1000000) DIV sum(cnt) OVER (PARTITION BY prev)").as("p_e6"))
        .localCheckpoint(true) // read by all 8 rounds
      collectedMatrix(m) match {
        case Some(rows) =>
          // driver form of the identical recurrence (type-vocab model
          // state — see collectedMatrix); one distinct-types scan
          // replaces the separate countDistinct + distinct scans
          val types = ev.select("event_type").distinct()
            .collect().map(_.getString(0)).toSeq
          var v: Map[String, Long] =
            types.map(_ -> 1000000L / types.size).toMap
          for (_ <- 1 to 8)
            v = rows.filter(t => v.contains(t._1))
              .groupBy(_._2)
              .map { case (next, ts) =>
                next -> ts.map(t => v(t._1) * t._3).sum / 1000000L }
          import s.implicits._
          v.toSeq.sorted.toDF("state", "v_e6").orderBy("state")
        case None =>
          val k = ev.agg(countDistinct("event_type").as("k"))
          var v = ev.select("event_type").distinct()
            .crossJoin(broadcast(k))
            .select(col("event_type").as("state"), expr("1000000 DIV k").as("v_e6"))
          for (_ <- 1 to 8) {
            v = m.join(v, m("prev") === v("state"))
              .groupBy(m("next").as("state"))
              .agg(expr("CAST(sum(v_e6 * p_e6) DIV 1000000 AS BIGINT)").as("v_e6"))
          }
          v.orderBy("state")
      }
    },

    // T62 — centered 7-day moving median of the daily event count: the
    // ROBUST smoother next to T60's EWMA (one outage day cannot drag a
    // median the way it drags any mean). The daily frame is
    // calendar-bounded; the ±3-day neighborhood comes from ONE
    // range-predicate self-join of that spine (≤7 rows per center), and
    // the median is the exact lower-median rank pick — integer rank
    // formulas shared by both engines, no quantile-definition drift
    // (ev19 discipline). No window touches the fact; the fact is
    // reduced to days once.
    Q(
      "ev54_moving_median",
      """WITH dc AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1),
        |nb AS (SELECT a.dy, b.c
        |       FROM dc a JOIN dc b
        |         ON b.dy BETWEEN a.dy - INTERVAL 3 DAY AND a.dy + INTERVAL 3 DAY),
        |r AS (SELECT dy, c,
        |        row_number() OVER (PARTITION BY dy ORDER BY c) AS rn,
        |        count(*) OVER (PARTITION BY dy) AS n
        |      FROM nb)
        |SELECT dy, CAST(max(n) AS BIGINT) AS n_days,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med_count
        |FROM r GROUP BY dy ORDER BY dy""".stripMargin
    ) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // both sides of the spine self-join
      val nb = dc.as("a").join(dc.select(col("dy").as("bdy"), col("c").as("bc")),
        col("bdy").between(col("dy") - expr("INTERVAL 3 DAY"),
          col("dy") + expr("INTERVAL 3 DAY")))
        .select(col("dy"), col("bc").as("c"))
      val w = Window.partitionBy("dy").orderBy("c")
      val r = nb
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("dy")))
      r.groupBy("dy")
        .agg(max("n").as("n_days"),
          max(when(col("rn") === expr("(n + 1) DIV 2"), col("c"))).as("med_count"))
        .orderBy("dy")
    },

    // T63 — MAD-based robust anomaly summary: ev9 flags hours by ±2σ,
    // which a single huge spike INFLATES until it hides its siblings;
    // the median/MAD detector is immune (50% breakdown). Both medians
    // are exact lower-median rank picks over per-type CELL frames
    // (ev19/ev26 discipline — the windows run on distinct-count cells,
    // never the fact), and the 3σ-equivalent threshold 3·1.4826·MAD is
    // the pure integer cross-multiply 10000·|c−med| > 44478·MAD — the
    // Gaussian consistency constant enters as a scaled integer, so no
    // float touches the decision. MAD = 0 (over half the hours at the
    // median) degrades to flagging any deviation.
    Q(
      "ev55_anomaly_mad",
      """WITH hc AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |medc AS (
        |  SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM hc),
        |med AS (SELECT event_type,
        |          max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med
        |        FROM medc GROUP BY 1),
        |ad AS (SELECT h.event_type, h.hr, h.c, m.med, abs(h.c - m.med) AS ad
        |       FROM hc h JOIN med m ON h.event_type = m.event_type),
        |madc AS (
        |  SELECT event_type, ad,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ad),
        |mad AS (SELECT event_type,
        |          max(CASE WHEN rn = (n + 1) // 2 THEN ad END) AS mad
        |        FROM madc GROUP BY 1)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  max(a.med) AS med, max(m.mad) AS mad,
        |  CAST(sum(CASE WHEN (m.mad = 0 AND a.ad > 0)
        |                  OR 10000 * a.ad > 44478 * m.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ad a JOIN mad m ON a.event_type = m.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // median pick + deviation join both read it
      def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
        val w = Window.partitionBy("event_type").orderBy(valueCol)
        df.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col(valueCol)))
            .as(out))
      }
      val med = lowerMedian(hc, "c", "med")
      val ad = hc.join(med, "event_type")
        .select(col("event_type"), col("hr"), col("c"), col("med"),
          abs(col("c") - col("med")).as("ad"))
        .localCheckpoint(true)
      val mad = lowerMedian(ad, "ad", "mad")
      ad.join(mad, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), max("med").as("med"),
          max("mad").as("mad"),
          sum(when((col("mad") === 0 && col("ad") > 0)
              || lit(10000) * col("ad") > lit(44478) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    },

    // T64 — heterogeneous treatment effect by engagement bucket: T37/T39
    // report ONE average effect; the first segmentation every
    // experimenter asks for is "does the effect differ by how engaged
    // the user was". Users collapse to one (arm, engagement, converted)
    // row; engagement buckets are ml15's scan-local shifted-integer
    // bins (no quantile window over users); per (bucket, arm) exact
    // counts, rates as floor permille, uplift = their exact integer
    // difference. Everything after the one user aggregate is
    // bucket-sized.
    Q(
      "ev56_hte_buckets",
      """WITH u AS (
        |  SELECT user_id % 2 AS arm, count(*) AS n_ev,
        |    CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              > count(*) THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |b AS (SELECT min(n_ev) AS mn, max(n_ev) AS mx FROM u),
        |bk AS (SELECT ((n_ev - mn) * 4) // (mx - mn + 1) AS bucket, arm, conv
        |       FROM u CROSS JOIN b),
        |cell AS (
        |  SELECT bucket,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0
        |  FROM bk GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n1, c1, n0, c0,
        |  CASE WHEN n1 = 0 THEN NULL ELSE (c1 * 1000) // n1 END AS p1_pm,
        |  CASE WHEN n0 = 0 THEN NULL ELSE (c0 * 1000) // n0 END AS p0_pm,
        |  CASE WHEN n1 = 0 OR n0 = 0 THEN NULL
        |       ELSE (c1 * 1000) // n1 - (c0 * 1000) // n0 END AS uplift_pm
        |FROM cell ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"),
          when(lit(5) * sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) > count(lit(1)), 1L).otherwise(0L).as("conv"))
        .select((col("user_id") % 2).as("arm"), col("n_ev"), col("conv"))
      val b = u.agg(min("n_ev").as("mn"), max("n_ev").as("mx"))
      val bk = u.crossJoin(broadcast(b))
        .select(expr("((n_ev - mn) * 4) DIV (mx - mn + 1)").as("bucket"),
          col("arm"), col("conv"))
      bk.groupBy("bucket")
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"))
        .select(col("bucket"), col("n1"), col("c1"), col("n0"), col("c0"),
          when(col("n1") === 0, lit(null))
            .otherwise(expr("(c1 * 1000) DIV n1")).as("p1_pm"),
          when(col("n0") === 0, lit(null))
            .otherwise(expr("(c0 * 1000) DIV n0")).as("p0_pm"),
          when(col("n1") === 0 || col("n0") === 0, lit(null))
            .otherwise(expr("(c1 * 1000) DIV n1") - expr("(c0 * 1000) DIV n0"))
            .as("uplift_pm"))
        .orderBy("bucket")
    },

    // T65 — cumulative reach (distinct users ever seen, by day): the
    // growth curve every launch dashboard opens with. Each user
    // collapses to a FIRST-SEEN day (one min aggregate — the fact's
    // only pass), then new-user counts ride the calendar-bounded day
    // spine and the cumulative sum is a window over THAT spine, never
    // the fact. Days with no new users appear with new_users = 0 so the
    // curve has no gaps.
    Q(
      "ev57_cumulative_reach",
      """WITH fs AS (
        |  SELECT user_id, min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS d0
        |  FROM events GROUP BY 1),
        |nu AS (SELECT d0 AS dy, CAST(count(*) AS BIGINT) AS new_users
        |       FROM fs GROUP BY 1),
        |bounds AS (
        |  SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS dmin,
        |         max(date_trunc('day', CAST(ts AS TIMESTAMP))) AS dmax
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT dmin FROM bounds),
        |                                (SELECT dmax FROM bounds),
        |                                INTERVAL 1 DAY)) AS dy)
        |SELECT s.dy, coalesce(nu.new_users, 0) AS new_users,
        |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY s.dy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM spine s LEFT JOIN nu ON s.dy = nu.dy
        |ORDER BY s.dy""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val fs = ev.groupBy("user_id")
        .agg(min(date_trunc("day", col("ts"))).as("d0"))
      val nu = fs.groupBy(col("d0").as("dy"))
        .agg(count(lit(1)).as("new_users"))
      val bounds = ev.agg(date_trunc("day", min("ts")).as("dmin"),
        date_trunc("day", max("ts")).as("dmax"))
      val spine = bounds.select(
        explode(sequence(col("dmin"), col("dmax"), expr("INTERVAL 1 DAY")))
          .as("dy"))
      spine.join(nu, Seq("dy"), "left")
        .select(col("dy"), coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users", sum("new_users").over(Window.orderBy("dy")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("dy")
    },

    // T66 — absorption probability into 'purchase' within 8 steps:
    // ev53 asks where the chain SETTLES; this asks how likely each
    // starting behavior CONVERTS, per the fundamental-matrix recurrence
    // a_{k+1}(i) = R(i) + Σⱼ Q(i,j)·a_k(j) truncated at 8 steps — Q/R
    // quantized ONCE to exact 1e6-unit integers (ev53 discipline), one
    // floor per (round, state), the whole 8-round unroll exact integer
    // algebra on the TYPE-VOCABULARY-sized matrix. Oracle = generated
    // unrolled CTEs.
    Q(
      "ev58_absorption", {
        val rounds = (1 to 8).map { i =>
          s"""s$i AS (SELECT q.prev AS state,
             |    CAST(sum(q.p_e6 * a${i - 1}.v_e6) // 1000000 AS BIGINT) AS acc
             |  FROM q JOIN a${i - 1} ON q.next = a${i - 1}.state GROUP BY 1),
             |a$i AS (SELECT t.state,
             |    CAST(coalesce(r.r_e6, 0) + coalesce(s$i.acc, 0) AS BIGINT) AS v_e6
             |  FROM trans t LEFT JOIN r ON r.prev = t.state
             |    LEFT JOIN s$i ON s$i.state = t.state)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH seq AS (
           |  SELECT event_type AS prev,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |      AS next
           |  FROM events),
           |t AS (SELECT prev, next, count(*) AS cnt FROM seq
           |      WHERE next IS NOT NULL AND prev <> 'purchase' GROUP BY 1, 2),
           |m AS (SELECT prev, next,
           |        (cnt * 1000000) // sum(cnt) OVER (PARTITION BY prev) AS p_e6
           |      FROM t),
           |q AS (SELECT prev, next, p_e6 FROM m WHERE next <> 'purchase'),
           |r AS (SELECT prev, p_e6 AS r_e6 FROM m WHERE next = 'purchase'),
           |trans AS (SELECT DISTINCT prev AS state FROM m),
           |a0 AS (SELECT state, CAST(0 AS BIGINT) AS v_e6 FROM trans),
           |$rounds
           |SELECT state, v_e6 AS absorb8_e6 FROM a8 ORDER BY state""".stripMargin
      }
    ) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val t = Tables.events(s, d)
        .select(col("event_type").as("prev"),
          lead(col("event_type"), 1).over(byUser).as("next"))
        .filter(col("next").isNotNull && col("prev") =!= "purchase")
        .groupBy("prev", "next").agg(count(lit(1)).as("cnt"))
      val m = t.select(col("prev"), col("next"),
          expr("(cnt * 1000000) DIV sum(cnt) OVER (PARTITION BY prev)").as("p_e6"))
        .localCheckpoint(true) // Q, R, state list, and all 8 rounds read it
      collectedMatrix(m) match {
        case Some(rows) =>
          val states = rows.map(_._1).distinct
          val a = absorb8(states,
            rows.filter(_._2 != "purchase"),
            rows.filter(_._2 == "purchase").map(t => t._1 -> t._3).toMap)
          import s.implicits._
          a.toSeq.sorted.toDF("state", "absorb8_e6").orderBy("state")
        case None =>
          val q = m.filter(col("next") =!= "purchase")
          val r = m.filter(col("next") === "purchase")
            .select(col("prev"), col("p_e6").as("r_e6"))
          val trans = m.select(col("prev").as("state")).distinct()
          var a = trans.withColumn("v_e6", lit(0L))
          for (_ <- 1 to 8) {
            val step = q.join(a, q("next") === a("state"))
              .groupBy(q("prev").as("state"))
              .agg(expr("CAST(sum(p_e6 * v_e6) DIV 1000000 AS BIGINT)").as("acc"))
            a = trans
              .join(r.withColumnRenamed("prev", "state"), Seq("state"), "left")
              .join(step, Seq("state"), "left")
              .select(col("state"),
                (coalesce(col("r_e6"), lit(0L)) + coalesce(col("acc"), lit(0L)))
                  .as("v_e6"))
          }
          a.select(col("state"), col("v_e6").as("absorb8_e6")).orderBy("state")
      }
    },

    // T70 — weekly periodogram of the daily event series (DFT power at
    // the period-7 fundamental and harmonics k = 1..3): ev44's ACF sees
    // "some" periodicity, the periodogram says WHICH frequency carries
    // it. Because the probe frequencies are fixed at the weekly grid,
    // every angle is 2π·m/7 with m = (k·t) mod 7 — SEVEN constants —
    // and cos/sin enter as HARDCODED 1e6-quantized integers (ev49
    // SPRT's discipline: no query-time transcendental on either engine,
    // so the whole spectrum is EXACT integer algebra; libm trig is
    // banned from oracle paths because cross-engine ulp drift is real).
    // Power = ((Σc·cos)² + (Σc·sin)²)/(n·1e12) with products in
    // decimal(38,0)/HUGEINT. Series frame calendar-bounded.
    Q(
      "ev62_periodogram", {
        val cos7 = (0 until 7).map(m =>
          math.round(1e6 * math.cos(2 * math.Pi * m / 7)))
        val sin7 = (0 until 7).map(m =>
          math.round(1e6 * math.sin(2 * math.Pi * m / 7)))
        val cosCase = (0 until 7).map(m => s"WHEN $m THEN ${cos7(m)}").mkString(" ")
        val sinCase = (0 until 7).map(m => s"WHEN $m THEN ${sin7(m)}").mkString(" ")
        s"""WITH dc AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
           |              CAST(count(*) AS BIGINT) AS c
           |            FROM events GROUP BY 1),
           |idx AS (SELECT c,
           |          row_number() OVER (ORDER BY dy) - 1 AS t,
           |          count(*) OVER () AS n
           |        FROM dc),
           |terms AS (
           |  SELECT k.k, n,
           |    c * (CASE (k.k * t) % 7 $cosCase END) AS ct_e6,
           |    c * (CASE (k.k * t) % 7 $sinCase END) AS st_e6
           |  FROM idx CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) k),
           |f AS (SELECT k, CAST(sum(ct_e6) AS BIGINT) AS sc,
           |        CAST(sum(st_e6) AS BIGINT) AS ss, max(n) AS n
           |      FROM terms GROUP BY 1)
           |SELECT CAST(k AS BIGINT) AS k, sc AS sum_cos_e6, ss AS sum_sin_e6,
           |  CAST((CAST(sc AS HUGEINT) * sc + CAST(ss AS HUGEINT) * ss)
           |    // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS power_e6
           |FROM f ORDER BY k""".stripMargin
      }
    ) { (s, d) =>
      val cos7 = (0 until 7).map(m =>
        math.round(1e6 * math.cos(2 * math.Pi * m / 7)))
      val sin7 = (0 until 7).map(m =>
        math.round(1e6 * math.sin(2 * math.Pi * m / 7)))
      def pick(v: Seq[Long]) = {
        val m = pmod(col("k") * col("t"), lit(7L))
        (0 until 7).foldLeft(lit(0L)) { (acc, i) =>
          when(m === i, lit(v(i))).otherwise(acc)
        }
      }
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("c"))
      val idx = dc.select(col("c"),
        (row_number().over(Window.orderBy("dy")) - 1).cast("long").as("t"),
        count(lit(1)).over(Window.partitionBy()).as("n"))
      val terms = idx.crossJoin(
          s.range(1, 4).select(col("id").as("k")))
        .select(col("k"), col("n"),
          (col("c") * pick(cos7)).as("ct_e6"),
          (col("c") * pick(sin7)).as("st_e6"))
      terms.groupBy("k")
        .agg(sum("ct_e6").as("sc"), sum("st_e6").as("ss"), max("n").as("n"))
        .select(col("k"), col("sc").as("sum_cos_e6"), col("ss").as("sum_sin_e6"),
          expr("CAST((CAST(sc AS DECIMAL(38,0)) * sc + CAST(ss AS DECIMAL(38,0)) * ss) DIV (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
            .as("power_e6"))
        .orderBy("k")
    },

    // T71 — retention half-life (exponential-decay fit to the pooled
    // weekly retention curve): "how many weeks until half the cohort is
    // gone" — ONE number for T10's whole matrix. Pooled r_k = active
    // user-weeks at age k over the cohorts OLD ENOUGH to show age k
    // (right-censoring handled exactly in integers); each ln(r_k) is
    // micro-quantized ONCE (tx19), the decay slope is ml8's closed-form
    // OLS over the ≤|weeks| cell frame, and the half-life is one
    // quantized double of exact integers. Everything after the user
    // aggregate is calendar-sized.
    Q(
      "ev63_retention_halflife",
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)) // 7
        |      AS BIGINT) AS w
        |  FROM events),
        |fs AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1),
        |mx AS (SELECT max(w) AS maxw FROM uw),
        |act AS (SELECT uw.user_id, fs.w0, uw.w - fs.w0 AS k
        |        FROM uw JOIN fs ON uw.user_id = fs.user_id),
        |num AS (SELECT k, CAST(count(*) AS BIGINT) AS active FROM act
        |        WHERE k >= 1 GROUP BY 1),
        |den AS (SELECT g.k, CAST(count(*) AS BIGINT) AS eligible
        |        FROM fs CROSS JOIN mx
        |        JOIN (SELECT DISTINCT k FROM num) g
        |          ON fs.w0 + g.k <= mx.maxw
        |        GROUP BY 1),
        |r AS (SELECT num.k, num.active, den.eligible,
        |        CAST(round(1000000 * ln(CAST(num.active AS DOUBLE)
        |          / den.eligible)) AS BIGINT) AS lr_e6
        |      FROM num JOIN den ON num.k = den.k WHERE num.active > 0),
        |m AS (SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sx,
        |        CAST(sum(lr_e6) AS BIGINT) AS sy,
        |        CAST(sum(k*k) AS BIGINT) AS sxx,
        |        CAST(sum(CAST(k AS HUGEINT) * lr_e6) AS HUGEINT) AS sxy
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_ages,
        |  CAST(round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |    / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT)
        |    AS slope_e6,
        |  -- no measured decay (slope ≥ 0, e.g. perfect synthetic
        |  -- retention) → half-life undefined, NULL on both engines
        |  CASE WHEN n * sxy - CAST(sx AS HUGEINT) * sy >= 0 THEN NULL
        |    ELSE CAST(round(-693147.1805599453
        |      / (CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |         / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) / 1000000))
        |      AS BIGINT) END AS halflife_milliweeks
        |FROM m""".stripMargin
    ) { (s, d) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          floor(datediff(date_trunc("week", col("ts")),
            lit("2024-01-01").cast("timestamp")) / 7).cast("long").as("w"))
        .distinct()
        .localCheckpoint(true) // first-seen, max, and activity all read it
      val fs = uw.groupBy("user_id").agg(min("w").as("w0"))
      val mx = uw.agg(max("w").as("maxw"))
      val num = uw.join(fs, "user_id")
        .select((col("w") - col("w0")).as("k"))
        .filter(col("k") >= 1)
        .groupBy("k").agg(count(lit(1)).as("active"))
      val den = fs.crossJoin(broadcast(mx))
        .crossJoin(broadcast(num.select("k").distinct()))
        .filter(col("w0") + col("k") <= col("maxw"))
        .groupBy("k").agg(count(lit(1)).as("eligible"))
      val r = num.join(den, "k").filter(col("active") > 0)
        .select(col("k"), col("active"), col("eligible"),
          round(lit(1000000) * log(col("active").cast("double")
            / col("eligible"))).cast("long").as("lr_e6"))
      val m = r.agg(count(lit(1)).as("n"), sum("k").as("sx"),
        sum("lr_e6").as("sy"), sum(col("k") * col("k")).as("sxx"),
        sum(dec(col("k")) * col("lr_e6")).as("sxy"))
      val slope = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
        .cast("double") /
        (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")).cast("double")
      m.select(col("n").as("n_ages"),
        round(slope).cast("long").as("slope_e6"),
        when(dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy") >= 0,
          lit(null))
          .otherwise(round(lit(-693147.1805599453) / (slope / 1000000))
            .cast("long")).as("halflife_milliweeks"))
    },

    // T72 — anomaly-detector CONSENSUS: ev9's 2σ rule, ev55's MAD rule,
    // and ev52's EWMA-residual rule each fire alone on different
    // pathologies (σ inflates under the spike it hunts, MAD goes blind
    // when half the hours sit at the median, EWMA chases trends); the
    // production alert is the VOTE — an hour flagged by ≥2 of 3. Every
    // rule is the same exact integer cross-multiply it is in its own
    // entry (squares in decimal(38,0)/HUGEINT, zero floats at any
    // decision), composed over ONE shared per-type hourly frame — the
    // fact is reduced once, every rule reads cells.
    Q(
      "ev64_anomaly_consensus",
      """WITH hc AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |sg AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
        |       FROM hc GROUP BY 1),
        |medc AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM hc),
        |med AS (SELECT event_type,
        |          max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med
        |        FROM medc GROUP BY 1),
        |ad AS (SELECT h.event_type, h.hr, h.c, abs(h.c - m.med) AS ad
        |       FROM hc h JOIN med m ON h.event_type = m.event_type),
        |madc AS (SELECT event_type, ad,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ad),
        |mad AS (SELECT event_type,
        |          max(CASE WHEN rn = (n + 1) // 2 THEN ad END) AS mad
        |        FROM madc GROUP BY 1),
        |ew AS (SELECT event_type, hr, c,
        |        list_reduce(
        |          list_prepend(CAST(-1 AS BIGINT),
        |            list(c) OVER (PARTITION BY event_type ORDER BY hr
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |          (acc, x) -> CASE WHEN acc < 0 THEN 1000000 * x
        |                           ELSE (4 * acc + 1000000 * x) // 5 END)
        |          AS ewma_e6
        |      FROM hc),
        |er AS (SELECT event_type, hr, c,
        |        coalesce(1000000 * c
        |          - lag(ewma_e6) OVER (PARTITION BY event_type ORDER BY hr),
        |          0) AS resid
        |      FROM ew),
        |est AS (SELECT event_type, count(*) AS n,
        |          CAST(sum(resid) AS HUGEINT) AS sr,
        |          sum(CAST(resid AS HUGEINT) * resid) AS ssr
        |        FROM er GROUP BY 1),
        |votes AS (
        |  SELECT a.event_type, a.hr,
        |    (CASE WHEN (sg.n * CAST(a.c AS HUGEINT) - sg.s)
        |               * (sg.n * CAST(a.c AS HUGEINT) - sg.s)
        |             > 4 * (sg.n * sg.ss - CAST(sg.s AS HUGEINT) * sg.s)
        |          THEN 1 ELSE 0 END) AS f_sigma,
        |    (CASE WHEN (md.mad = 0 AND a.ad > 0)
        |            OR 10000 * a.ad > 44478 * md.mad THEN 1 ELSE 0 END) AS f_mad,
        |    (CASE WHEN (est.n * CAST(er.resid AS HUGEINT) - est.sr)
        |               * (est.n * CAST(er.resid AS HUGEINT) - est.sr)
        |             > 9 * (est.n * est.ssr - est.sr * est.sr)
        |          THEN 1 ELSE 0 END) AS f_ewma
        |  FROM ad a
        |  JOIN sg ON a.event_type = sg.event_type
        |  JOIN mad md ON a.event_type = md.event_type
        |  JOIN er ON a.event_type = er.event_type AND a.hr = er.hr
        |  JOIN est ON a.event_type = est.event_type)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(f_sigma) AS BIGINT) AS n_sigma,
        |  CAST(sum(f_mad) AS BIGINT) AS n_mad,
        |  CAST(sum(f_ewma) AS BIGINT) AS n_ewma,
        |  CAST(sum(CASE WHEN f_sigma + f_mad + f_ewma >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_consensus
        |FROM votes GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val hc = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // all three detectors read it
      val sg = hc.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s"),
          sum(dec(col("c")) * col("c")).as("ss"))
      def lowerMed(df: DataFrame, vcol: String, out: String): DataFrame = {
        val w = Window.partitionBy("event_type").orderBy(vcol)
        df.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(max(when(col("rn") === expr("(nn + 1) DIV 2"), col(vcol))).as(out))
      }
      val med = lowerMed(hc, "c", "med")
      val ad = hc.join(med, "event_type")
        .select(col("event_type"), col("hr"), col("c"),
          abs(col("c") - col("med")).as("ad"))
        .localCheckpoint(true)
      val mad = lowerMed(ad, "ad", "mad")
      val ordered = Window.partitionBy("event_type").orderBy("hr")
      val er = hc.withColumn("cs", collect_list("c").over(
          ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ewma_e6", expr(
          """aggregate(cs, CAST(-1 AS BIGINT),
            |  (acc, x) -> CASE WHEN acc < 0 THEN 1000000 * x
            |                   ELSE (4 * acc + 1000000 * x) DIV 5 END)"""
            .stripMargin))
        .withColumn("resid",
          coalesce(lit(1000000) * col("c") - lag("ewma_e6", 1).over(ordered),
            lit(0L)))
        .select("event_type", "hr", "resid")
        .localCheckpoint(true)
      val est = er.groupBy("event_type")
        .agg(count(lit(1)).as("en"), sum(dec(col("resid"))).as("sr"),
          sum(dec(col("resid")) * col("resid")).as("ssr"))
      val votes = ad
        .join(sg, "event_type").join(mad, "event_type")
        .join(er, Seq("event_type", "hr")).join(est, "event_type")
        .select(col("event_type"),
          when((dec(col("n")) * col("c") - col("s"))
              * (dec(col("n")) * col("c") - col("s"))
              > lit(4) * (dec(col("n")) * col("ss") - dec(col("s")) * col("s")),
            1L).otherwise(0L).as("f_sigma"),
          when((col("mad") === 0 && col("ad") > 0)
              || lit(10000) * col("ad") > lit(44478) * col("mad"), 1L)
            .otherwise(0L).as("f_mad"),
          when((dec(col("en")) * col("resid") - col("sr"))
              * (dec(col("en")) * col("resid") - col("sr"))
              > lit(9) * (dec(col("en")) * col("ssr") - col("sr") * col("sr")),
            1L).otherwise(0L).as("f_ewma"))
      votes.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), sum("f_sigma").as("n_sigma"),
          sum("f_mad").as("n_mad"), sum("f_ewma").as("n_ewma"),
          sum(when(col("f_sigma") + col("f_mad") + col("f_ewma") >= 2, 1L)
            .otherwise(0L)).as("n_consensus"))
        .orderBy("event_type")
    },

    // T74 — day-of-week × hour-of-day activity heatmap: T31 tests the
    // hour margin for uniformity, this is the full 7×24 surface every
    // capacity planner reads — counts, exact value cents, and each
    // cell's traffic share in permille of the whole (one floor DIV
    // against the broadcast total). Day-of-week derives from the epoch
    // DAY NUMBER mod 7 (1970-01-01 was a Thursday → shift 4), pure
    // integer arithmetic identical on both engines — no locale-
    // dependent dayofweek() anywhere near the oracle.
    Q(
      "ev66_dow_hour_heatmap",
      """WITH x AS (
        |  SELECT ((epoch_us(CAST(ts AS TIMESTAMp)) // 86400000000 + 4) % 7)
        |      AS dow,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hh,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM x)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hh AS BIGINT) AS hh,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST((count(*) * 1000) // (SELECT total FROM t) AS BIGINT) AS share_pm
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      val x = Tables.events(s, d).select(
        expr("(unix_micros(ts) DIV 86400000000 + 4) % 7").as("dow"),
        expr("(unix_micros(ts) DIV 3600000000) % 24").as("hh"),
        round(col("value") * 100).cast("long").as("cents"))
      val t = x.agg(count(lit(1)).as("total"))
      x.groupBy("dow", "hh")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .crossJoin(broadcast(t))
        .select(col("dow"), col("hh"), col("n"), col("cents"),
          expr("(n * 1000) DIV total").as("share_pm"))
        .orderBy("dow", "hh")
    },

    // R172 — session-depth histogram + bounce share. ev2 builds the
    // sessions, ev23 reads how they OPEN — this is the engagement-depth
    // distribution product teams actually chart, with the bounce rate
    // (depth-1 share) falling out of the same frame. Same 30-min-gap
    // session build as ev2 (per-user partitioned windows on the fact),
    // then two fixed-width aggregates: (user, sid) → depth, depth →
    // histogram; the share is one floor DIV vs the broadcast total.
    Q(
      "ev67_session_depth",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |y AS (
        |  SELECT user_id,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x),
        |sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS depth
        |         FROM y GROUP BY 1, 2),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM sess)
        |SELECT depth,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  (CAST(count(*) AS BIGINT) * 1000) // (SELECT total FROM t) AS share_permille,
        |  CASE WHEN depth = 1 THEN 1 ELSE 0 END AS is_bounce
        |FROM sess GROUP BY depth ORDER BY depth""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid").agg(count(lit(1)).as("depth"))
      val t = sess.agg(count(lit(1)).as("total"))
      sess.groupBy("depth").agg(count(lit(1)).as("n_sessions"))
        .crossJoin(broadcast(t))
        .select(col("depth"), col("n_sessions"),
          expr("(n_sessions * 1000) DIV total").as("share_permille"),
          when(col("depth") === 1, 1L).otherwise(0L).as("is_bounce"))
        .orderBy("depth")
    },

    // R173 — SLO burn rate: trailing-7-day error share vs a 180‰
    // budget (the SRE error-budget readout — ev21 watches COUNT bursts,
    // this watches the error RATIO drift). One fact pass to the day
    // spine (errors, total per day), then trailing sums on the
    // date-domain-bounded spine; rate and burn are floor DIVs of exact
    // counts (burn_e2 = 100 means exactly on budget). Only complete
    // 7-day windows are scored.
    Q(
      "ev68_slo_burn",
      """WITH dc AS (
        |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
        |    CAST(count(*) AS BIGINT) AS tot
        |  FROM events GROUP BY 1),
        |t AS (SELECT dy,
        |        sum(err) OVER w7 AS err7,
        |        sum(tot) OVER w7 AS tot7,
        |        count(*) OVER w7 AS nd
        |      FROM dc
        |      WINDOW w7 AS (ORDER BY dy ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT dy,
        |  CAST(err7 AS BIGINT) AS err7, CAST(tot7 AS BIGINT) AS tot7,
        |  CAST((err7 * 1000) // tot7 AS BIGINT) AS rate_permille,
        |  CAST((err7 * 1000 * 100) // (tot7 * 180) AS BIGINT) AS burn_e2,
        |  CASE WHEN err7 * 1000 > tot7 * 180 THEN 1 ELSE 0 END AS breach
        |FROM t WHERE nd = 7 ORDER BY dy""".stripMargin
    ) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"),
          count(lit(1)).as("tot"))
      // day-spine window: bounded by the date domain, not the fact
      val w7 = Window.orderBy("dy").rowsBetween(-6, 0)
      dc.withColumn("err7", sum("err").over(w7))
        .withColumn("tot7", sum("tot").over(w7))
        .withColumn("nd", count(lit(1)).over(w7))
        .filter(col("nd") === 7)
        .select(col("dy"), col("err7"), col("tot7"),
          expr("(err7 * 1000) DIV tot7").as("rate_permille"),
          expr("(err7 * 1000 * 100) DIV (tot7 * 180)").as("burn_e2"),
          when(col("err7") * 1000 > col("tot7") * 180, 1L).otherwise(0L).as("breach"))
        .orderBy("dy")
    },

    // R181 — MTBF / MTTR per user (the reliability pair beside ev68's
    // budget burn): mean time between consecutive 'error' events, and
    // mean time from each error to the user's NEXT non-error event
    // (recovery). The recovery lookup is the "next value ignoring
    // nulls" window over ALL events — first_value(... IGNORE NULLS)
    // over the 1-FOLLOWING..UNBOUNDED frame, per-user partitioned, so
    // the fact is touched once for recoveries and once (filtered) for
    // gaps; both means are floor DIVs of exact micros. Errors with no
    // later non-error event stay unrecovered (counted, not averaged).
    Q(
      "ev69_mtbf",
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events WHERE event_type = 'error'),
        |r AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS err_us,
        |    first_value(CASE WHEN event_type <> 'error' THEN epoch_us(ts) END
        |        IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rec_us
        |  FROM events),
        |gb AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(sum(gap_us) AS BIGINT) AS sum_gap
        |       FROM g WHERE gap_us IS NOT NULL GROUP BY 1),
        |rb AS (SELECT user_id,
        |         CAST(count(*) AS BIGINT) AS n_errors,
        |         CAST(count(rec_us) AS BIGINT) AS n_recovered,
        |         CAST(sum(CASE WHEN rec_us IS NOT NULL
        |                       THEN rec_us - err_us END) AS BIGINT) AS sum_rec
        |       FROM r WHERE event_type = 'error' GROUP BY 1)
        |SELECT rb.user_id, rb.n_errors,
        |  CASE WHEN gb.n_gaps > 0 THEN gb.sum_gap // gb.n_gaps END AS mtbf_us,
        |  rb.n_recovered,
        |  CASE WHEN rb.n_recovered > 0 THEN rb.sum_rec // rb.n_recovered END AS mttr_us
        |FROM rb LEFT JOIN gb ON rb.user_id = gb.user_id
        |ORDER BY rb.user_id""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val g = ev.filter(col("event_type") === "error")
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      val gb = g.filter(col("gap_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum("gap_us").as("sum_gap"))
      val r = ev
        .withColumn("rec_us",
          first(when(col("event_type") =!= "error", unix_micros(col("ts"))),
            ignoreNulls = true)
            .over(w.rowsBetween(1, Window.unboundedFollowing)))
        .filter(col("event_type") === "error")
        .withColumn("err_us", unix_micros(col("ts")))
      val rb = r.groupBy("user_id")
        .agg(count(lit(1)).as("n_errors"),
          count("rec_us").as("n_recovered"),
          sum(when(col("rec_us").isNotNull, col("rec_us") - col("err_us")))
            .as("sum_rec"))
      rb.join(gb, Seq("user_id"), "left")
        .select(col("user_id"), col("n_errors"),
          when(col("n_gaps") > 0, expr("sum_gap DIV n_gaps")).as("mtbf_us"),
          col("n_recovered"),
          when(col("n_recovered") > 0, expr("sum_rec DIV n_recovered")).as("mttr_us"))
        .orderBy("user_id")
    },

    // R183 — prominence-gated peak detection on the hourly series: a
    // peak is an hour strictly above BOTH neighbours on each side
    // (width-2 local maximum, boundary hours excluded by the non-null
    // requirement) AND at or above the exact p90 of hourly counts
    // (ceil-rank pick ⌈9n/10⌉ on count CELLS — the prominence gate
    // that keeps noise maxima out). The capacity-planning readout
    // beside ev21's rate-limit bursts and ev55's MAD outliers: WHICH
    // hours are true local load peaks. One fact pass to the hour
    // spine; every window after runs on the time-domain-bounded spine.
    Q(
      "ev70_peaks",
      """WITH hc AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hc),
        |rk AS (SELECT c,
        |         row_number() OVER (ORDER BY c, hr) AS rn FROM hc),
        |p90 AS (SELECT min(c) AS p90 FROM rk, n WHERE rn >= (9*n.n + 9) // 10),
        |w AS (SELECT hr, c,
        |        lag(c, 1)  OVER (ORDER BY hr) AS l1,
        |        lag(c, 2)  OVER (ORDER BY hr) AS l2,
        |        lead(c, 1) OVER (ORDER BY hr) AS r1,
        |        lead(c, 2) OVER (ORDER BY hr) AS r2
        |      FROM hc)
        |SELECT w.hr, w.c, p90.p90
        |FROM w, p90
        |WHERE w.l1 IS NOT NULL AND w.l2 IS NOT NULL
        |  AND w.r1 IS NOT NULL AND w.r2 IS NOT NULL
        |  AND w.c > w.l1 AND w.c > w.l2 AND w.c > w.r1 AND w.c > w.r2
        |  AND w.c >= p90.p90
        |ORDER BY w.hr""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // rank pick + neighbour windows read it
      val n = hc.agg(count(lit(1)).as("n"))
      // hour-spine windows: bounded by the time domain, not the fact
      val rk = hc.withColumn("rn",
        row_number().over(Window.orderBy("c", "hr")).cast("long"))
      val p90 = rk.crossJoin(broadcast(n))
        .filter(col("rn") >= expr("(9*n + 9) DIV 10"))
        .agg(min("c").as("p90"))
      val wo = Window.orderBy("hr")
      hc.withColumn("l1", lag("c", 1).over(wo))
        .withColumn("l2", lag("c", 2).over(wo))
        .withColumn("r1", lead("c", 1).over(wo))
        .withColumn("r2", lead("c", 2).over(wo))
        .crossJoin(broadcast(p90))
        .filter(col("l1").isNotNull && col("l2").isNotNull
          && col("r1").isNotNull && col("r2").isNotNull
          && col("c") > col("l1") && col("c") > col("l2")
          && col("c") > col("r1") && col("c") > col("r2")
          && col("c") >= col("p90"))
        .select(col("hr"), col("c"), col("p90"))
        .orderBy("hr")
    },

    // R188 — transition dwell times: ev12's Markov matrix says WHERE
    // sessions go, this says HOW LONG each hop takes — mean/min/max
    // gap per (from → to) event-type pair, the latency surface of the
    // behavioural graph. Per-user lead window on the fact (the ev12
    // shuffle), then one aggregate to the ≤|types|² frame; means are
    // floor DIVs of exact micro sums.
    Q(
      "ev71_transition_dwell",
      """WITH x AS (
        |  SELECT event_type AS ft,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - epoch_us(ts) AS gap_us
        |  FROM events)
        |SELECT ft, tt,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(gap_us) // count(*) AS BIGINT) AS mean_gap_us,
        |  CAST(min(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(max(gap_us) AS BIGINT) AS max_gap_us
        |FROM x WHERE tt IS NOT NULL
        |GROUP BY ft, tt ORDER BY ft, tt""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("ft"),
          lead("event_type", 1).over(w).as("tt"),
          (lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
            .as("gap_us"))
        .filter(col("tt").isNotNull)
        .groupBy("ft", "tt")
        .agg(count(lit(1)).as("n"),
          expr("sum(gap_us) DIV count(*)").as("mean_gap_us"),
          min("gap_us").as("min_gap_us"),
          max("gap_us").as("max_gap_us"))
        .orderBy("ft", "tt")
    },

    // R191 — record-breaking hours: each hour whose load strictly
    // exceeds EVERY previous hour (running max over the preceding
    // frame; the first hour is a record by convention — a null
    // preceding max). Record analysis is the extreme-value cousin of
    // ev70's peaks: a stationary series sets ~ln(n) records, so a
    // record RATE above that is itself a growth signal. One fact pass
    // to the hour spine; the cumulative-max window is spine-bounded.
    Q(
      "ev72_records",
      """WITH hc AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |r AS (SELECT hr, c,
        |        max(c) OVER (ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
        |      FROM hc)
        |SELECT hr, c, prev_best
        |FROM r WHERE prev_best IS NULL OR c > prev_best
        |ORDER BY hr""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      // hour-spine window: bounded by the time domain, not the fact
      val w = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, -1)
      hc.withColumn("prev_best", max("c").over(w))
        .filter(col("prev_best").isNull || col("c") > col("prev_best"))
        .orderBy("hr")
    },

    // R195 — Spark's NATIVE session_window() in batch mode, certified
    // against the portable gaps-and-islands oracle (ev2 builds
    // sessions BY HAND with lag+cumsum; this entry runs the engine's
    // built-in SessionWindowing operator on the same 30-min gap and
    // must produce byte-identical sessions — window.end is
    // last-event + gap by session_window's definition, so the oracle
    // emits max(ts) + INTERVAL 30 MINUTE). Certifying the builtin
    // matters: it's the operator a Spark user actually reaches for,
    // and its session-merge semantics (not our window arithmetic) are
    // what execute. One shuffle on user_id either way.
    Q(
      "ev73_session_window",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS s_start,
        |  max(ts) + INTERVAL 30 MINUTE AS s_end,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n"))
        .orderBy("user_id", "s_start")
    },

    // R196 — Spark's NATIVE tumbling window() builtin (6-hour
    // buckets), certified against pure epoch arithmetic: the builtin
    // computes epoch-aligned bucket boundaries internally; the oracle
    // derives the identical boundary from epoch_us DIV (6·3600·10⁶).
    // Any off-by-one in the engine's bucket math (or a timezone leak —
    // the session runs UTC) would hash-mismatch. Map-side combinable
    // aggregate to the bucket spine.
    Q(
      "ev74_window_builtin",
      """WITH b AS (
        |  SELECT epoch_us(ts) // 21600000000 AS bk,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT make_timestamp(bk * 21600000000) AS w_start,
        |  make_timestamp((bk + 1) * 21600000000) AS w_end,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM b GROUP BY bk ORDER BY w_start""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("n"), col("cents"))
        .orderBy("w_start")
    },

    // R200 — error contagion (self-excitation test): is an error more
    // likely right after an error than at baseline — the Hawkes-style
    // question answered with exact transition counts off ev12's
    // per-user lead shuffle. lift = P(err→err)/ (P(·→err)) as an exact
    // integer floor quotient (products in decimal/HUGEINT — n_ee·n
    // passes 2⁶³ at lake scale). lift_e6 > 1e6 ⇒ errors cluster;
    // conditional and baseline permilles alongside for the readout.
    Q(
      "ev75_error_contagion",
      """WITH p AS (
        |  SELECT event_type AS ft,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt
        |  FROM events),
        |agg AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN ft = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_from_e,
        |    CAST(sum(CASE WHEN tt = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_to_e,
        |    CAST(sum(CASE WHEN ft = 'error' AND tt = 'error' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_ee
        |  FROM p WHERE tt IS NOT NULL)
        |SELECT n_pairs, n_from_e, n_to_e, n_ee,
        |  (n_ee * 1000) // n_from_e AS p_cond_pm,
        |  (n_to_e * 1000) // n_pairs AS p_base_pm,
        |  CAST((CAST(n_ee AS HUGEINT) * n_pairs * 1000000)
        |       // (CAST(n_from_e AS HUGEINT) * n_to_e) AS BIGINT) AS lift_e6
        |FROM agg""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val p = Tables.events(s, d)
        .select(col("event_type").as("ft"),
          lead("event_type", 1).over(w).as("tt"))
        .filter(col("tt").isNotNull)
      p.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("ft") === "error", 1L).otherwise(0L)).as("n_from_e"),
          sum(when(col("tt") === "error", 1L).otherwise(0L)).as("n_to_e"),
          sum(when(col("ft") === "error" && col("tt") === "error", 1L)
            .otherwise(0L)).as("n_ee"))
        .select(col("n_pairs"), col("n_from_e"), col("n_to_e"), col("n_ee"),
          expr("(n_ee * 1000) DIV n_from_e").as("p_cond_pm"),
          expr("(n_to_e * 1000) DIV n_pairs").as("p_base_pm"),
          expr("""CAST((CAST(n_ee AS DECIMAL(38,0)) * n_pairs * 1000000)
            | DIV (CAST(n_from_e AS DECIMAL(38,0)) * n_to_e) AS BIGINT)"""
            .stripMargin).as("lift_e6"))
    },

    // R202 — MASE forecast backtest: before trusting ev35/ev43's
    // fitted forecasts, measure whether the SEASONAL-naive baseline
    // (repeat last week) even beats the naive one (repeat yesterday)
    // on a one-step-ahead backtest — MASE < 1e6 says weekly structure
    // is real and worth modelling. Exact: both error sums are integer
    // |lag diffs| on the day spine over the SAME evaluation rows (both
    // lags present), MASE one floor quotient (the shared n cancels).
    Q(
      "ev76_mase_backtest",
      """WITH dc AS (
        |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |l AS (SELECT dy, c,
        |        lag(c, 1) OVER (ORDER BY dy) AS c1,
        |        lag(c, 7) OVER (ORDER BY dy) AS c7
        |      FROM dc),
        |e AS (SELECT abs(c - c1) AS e1, abs(c - c7) AS e7
        |      FROM l WHERE c1 IS NOT NULL AND c7 IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(e1) AS BIGINT) AS abs_err_naive,
        |  CAST(sum(e7) AS BIGINT) AS abs_err_snaive,
        |  CAST(sum(e1) // count(*) AS BIGINT) AS mae_naive,
        |  CAST(sum(e7) // count(*) AS BIGINT) AS mae_snaive,
        |  CAST((1000000 * sum(e7)) // sum(e1) AS BIGINT) AS mase_e6
        |FROM e""".stripMargin
    ) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("c"))
      // day-spine windows: bounded by the date domain, not the fact
      val wd = Window.orderBy("dy")
      dc.withColumn("c1", lag("c", 1).over(wd))
        .withColumn("c7", lag("c", 7).over(wd))
        .filter(col("c1").isNotNull && col("c7").isNotNull)
        .select(abs(col("c") - col("c1")).as("e1"),
          abs(col("c") - col("c7")).as("e7"))
        .agg(count(lit(1)).as("n_eval"),
          sum("e1").as("abs_err_naive"),
          sum("e7").as("abs_err_snaive"),
          expr("sum(e1) DIV count(*)").as("mae_naive"),
          expr("sum(e7) DIV count(*)").as("mae_snaive"),
          expr("(1000000 * sum(e7)) DIV sum(e1)").as("mase_e6"))
    },

    // R204 — engagement streaks (consecutive-active-day runs per
    // user): the islands trick made exact — on the per-user DISTINCT
    // active-day frame, epoch_day − row_number is CONSTANT within a
    // consecutive run, so the longest streak is a max over
    // (user, group) counts. Two per-user-partitioned windows on the
    // (user × active-day) frame (≤ users × date-domain, never raw
    // events), then user-sized aggregates.
    Q(
      "ev77_streaks",
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS ed
        |  FROM events),
        |g AS (SELECT user_id, ed,
        |        ed - row_number() OVER (PARTITION BY user_id ORDER BY ed) AS grp
        |      FROM ud),
        |runs AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |         FROM g GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(max(len) AS BIGINT) AS max_streak,
        |  CAST(count(*) AS BIGINT) AS n_streaks
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("ed"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("ed")
      val runs = ud
        .withColumn("grp", col("ed") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      runs.groupBy("user_id")
        .agg(sum("len").as("n_active_days"),
          max("len").as("max_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },

    // R212 — duration-weighted concurrency percentiles: ev37 reports
    // the PEAK, capacity planning needs the DISTRIBUTION — how much
    // wall-time the system spends at each concurrency level, and the
    // p50/p95/p99 levels by TIME (not by event). Same day-partitioned
    // distributed sweep line as ev37 (per-day running sum + a
    // days-frame carry-in, never a global fact-sized window), extended
    // with per-day lead() for segment durations and a days-frame
    // boundary stitch (last point of day → first point of the next
    // present day at the carry level). Percentiles are exact ceil-rank
    // picks on (level, Σduration) cells — bounded by the peak
    // concurrency value, not the fact.
    Q(
      "ev78_concurrency_profile",
      """WITH iv AS (SELECT event_id, ts AS st, ts + INTERVAL 30 MINUTE AS en
        |            FROM events),
        |pts AS (SELECT st AS t, 1 AS d, event_id FROM iv
        |        UNION ALL SELECT en, -1, event_id FROM iv),
        |r AS (SELECT t, sum(d) OVER w AS c, lead(t) OVER w AS nxt
        |      FROM pts WINDOW w AS (ORDER BY t, d DESC, event_id)),
        |seg AS (SELECT CAST(c AS BIGINT) AS level,
        |          epoch_us(nxt) - epoch_us(t) AS dur
        |        FROM r WHERE nxt IS NOT NULL),
        |cells AS (SELECT level, CAST(sum(dur) AS BIGINT) AS dur
        |          FROM seg GROUP BY 1),
        |tot AS (SELECT CAST(sum(dur) AS BIGINT) AS total FROM cells),
        |cum AS (SELECT level, sum(dur) OVER (ORDER BY level) AS cum FROM cells)
        |SELECT tot.total AS total_us,
        |  (SELECT min(level) FROM cum WHERE cum >= (tot.total + 1) // 2) AS p50_level,
        |  (SELECT min(level) FROM cum WHERE cum >= (95*tot.total + 99) // 100) AS p95_level,
        |  (SELECT min(level) FROM cum WHERE cum >= (99*tot.total + 99) // 100) AS p99_level,
        |  (SELECT max(level) FROM cells) AS peak_level
        |FROM tot""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val pts = ev.select(col("ts").as("t"), lit(1L).as("dl"), col("event_id"))
        .unionByName(ev.select(
          (col("ts") + expr("INTERVAL 30 MINUTE")).as("t"),
          lit(-1L).as("dl"), col("event_id")))
        .withColumn("day", date_trunc("day", col("t")))
        .localCheckpoint(true) // within-day sweep + day summaries
      val ord = Window.partitionBy("day")
        .orderBy(col("t"), col("dl").desc, col("event_id"))
      val within = pts
        .withColumn("run", sum("dl").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nxt", lead("t", 1).over(ord))
      val dayAgg = pts.groupBy("day")
        .agg(sum("dl").as("dtot"), min("t").as("first_t"), max("t").as("last_t"))
      // days-frame carry-in (ev37's trick) + boundary stitch
      val wd = Window.orderBy("day")
      val carry = dayAgg
        .withColumn("carry", coalesce(
          sum("dtot").over(wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val seg1 = within.join(broadcast(carry.select("day", "carry")), "day")
        .filter(col("nxt").isNotNull)
        .select((col("carry") + col("run")).as("level"),
          (unix_micros(col("nxt")) - unix_micros(col("t"))).as("dur"))
      val seg2 = carry
        .withColumn("nxt_first", lead("first_t", 1).over(wd))
        .filter(col("nxt_first").isNotNull)
        .select((col("carry") + col("dtot")).as("level"),
          (unix_micros(col("nxt_first")) - unix_micros(col("last_t"))).as("dur"))
      val cells = seg1.unionByName(seg2)
        .groupBy("level").agg(sum("dur").as("dur"))
        .localCheckpoint(true) // cum + peak + total read it
      val tot = cells.agg(sum("dur").as("total"), max("level").as("peak_level"))
      // level-domain-bounded window (≤ peak concurrency cells)
      val cum = cells.withColumn("cum", sum("dur").over(Window.orderBy("level")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
      cum.agg(
          max("total").as("total_us"),
          min(when(col("cum") >= expr("(total + 1) DIV 2"), col("level"))).as("p50_level"),
          min(when(col("cum") >= expr("(95*total + 99) DIV 100"), col("level"))).as("p95_level"),
          min(when(col("cum") >= expr("(99*total + 99) DIV 100"), col("level"))).as("p99_level"),
          max("peak_level").as("peak_level"))
    },

    // R216 — seasonality STRENGTH (variance explained by the diurnal
    // profile): ev25 extracts the profile, ev31/ev62 test for it —
    // this is the one-number η² = SS_between/SS_total of hourly counts
    // grouped by hour-of-day. Float-free despite being a variance
    // ratio: each group term (10⁶·S_g²) DIV n_g is floor-quantized
    // EXACTLY (a 24-term double sum would reassociate across
    // partitions — nondeterministic), then summed as integers;
    // decimal/HUGEINT on the squares. One fact pass to the hour
    // spine, 24 group cells after.
    Q(
      "ev79_seasonality_strength",
      """WITH hc AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |hh AS (SELECT (epoch_us(hr) // 3600000000) % 24 AS hod, c FROM hc),
        |grp AS (SELECT hod, CAST(count(*) AS BIGINT) AS ng,
        |          CAST(sum(c) AS BIGINT) AS sg
        |        FROM hh GROUP BY 1),
        |gt AS (SELECT
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS BIGINT) AS s,
        |    CAST(sum(CAST(sg AS HUGEINT) * sg * 1000000 // ng) AS BIGINT) AS bsum_e6
        |  FROM grp),
        |sq AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS cc FROM hh)
        |SELECT gt.n AS n_hours,
        |  CAST(gt.bsum_e6 - CAST(gt.s AS HUGEINT) * gt.s * 1000000 // gt.n
        |       AS BIGINT) AS ssb_e6,
        |  CAST(sq.cc * 1000000 - CAST(gt.s AS HUGEINT) * gt.s * 1000000 // gt.n
        |       AS BIGINT) AS sst_e6,
        |  CAST((1000 * (gt.bsum_e6 - CAST(gt.s AS HUGEINT) * gt.s * 1000000 // gt.n))
        |       // (sq.cc * 1000000 - CAST(gt.s AS HUGEINT) * gt.s * 1000000 // gt.n)
        |       AS BIGINT) AS strength_pm
        |FROM gt, sq""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val hh = hc.select(
        expr("(unix_micros(hr) DIV 3600000000) % 24").as("hod"), col("c"))
        .localCheckpoint(true) // group terms + square sum read it
      val grp = hh.groupBy("hod").agg(count(lit(1)).as("ng"), sum("c").as("sg"))
      val gt = grp.agg(sum("ng").as("n"), sum("sg").as("s"),
        sum(expr("CAST(sg AS DECIMAL(38,0)) * sg * 1000000 DIV ng"))
          .cast("decimal(38,0)").as("bsum_e6"))
      val sq = hh.agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("cc"))
      gt.crossJoin(broadcast(sq))
        .select(col("n").as("n_hours"),
          expr("CAST(bsum_e6 - CAST(s AS DECIMAL(38,0)) * s * 1000000 DIV n AS BIGINT)")
            .as("ssb_e6"),
          expr("CAST(cc * 1000000 - CAST(s AS DECIMAL(38,0)) * s * 1000000 DIV n AS BIGINT)")
            .as("sst_e6"),
          expr("""CAST((1000 * (bsum_e6 - CAST(s AS DECIMAL(38,0)) * s * 1000000 DIV n))
            | DIV (cc * 1000000 - CAST(s AS DECIMAL(38,0)) * s * 1000000 DIV n)
            | AS BIGINT)""".stripMargin).as("strength_pm"))
    },

    // R217 — degradation under load: does the error SHARE rise with
    // traffic — the capacity-health question ev68's budget can't
    // answer. Two readouts off one hourly frame: (a) exact Pearson
    // corr between hourly volume and hourly error count (q60's moment
    // machinery, one identical-tree double e6-rounded), and (b) the
    // error rate in low- vs high-load halves split at the exact
    // lower-median volume (rank pick on volume cells). Everything
    // after the fact pass is spine- or cell-sized.
    Q(
      "ev80_load_vs_errors",
      """WITH hc AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hc),
        |cells AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM hc GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM cells),
        |med AS (SELECT min(v) AS med FROM cum, n WHERE cum >= (n.n + 1) // 2),
        |mo AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv, CAST(sum(e) AS BIGINT) AS se,
        |    CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS svv,
        |    CAST(sum(CAST(e AS HUGEINT) * e) AS BIGINT) AS see,
        |    CAST(sum(CAST(v AS HUGEINT) * e) AS BIGINT) AS sve
        |  FROM hc),
        |halves AS (SELECT
        |    CAST(sum(CASE WHEN v <= med THEN v ELSE 0 END) AS BIGINT) AS v_lo,
        |    CAST(sum(CASE WHEN v <= med THEN e ELSE 0 END) AS BIGINT) AS e_lo,
        |    CAST(sum(CASE WHEN v > med THEN v ELSE 0 END) AS BIGINT) AS v_hi,
        |    CAST(sum(CASE WHEN v > med THEN e ELSE 0 END) AS BIGINT) AS e_hi
        |  FROM hc, med)
        |SELECT mo.n AS n_hours,
        |  CAST(round(1000000 *
        |    (CAST(mo.n AS DOUBLE) * mo.sve - CAST(mo.sv AS DOUBLE) * mo.se)
        |    / sqrt((CAST(mo.n AS DOUBLE) * mo.svv - CAST(mo.sv AS DOUBLE) * mo.sv)
        |         * (CAST(mo.n AS DOUBLE) * mo.see - CAST(mo.se AS DOUBLE) * mo.se)))
        |    AS BIGINT) AS corr_e6,
        |  (halves.e_lo * 1000) // halves.v_lo AS rate_lo_pm,
        |  (halves.e_hi * 1000) // halves.v_hi AS rate_hi_pm
        |FROM mo, halves""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("v"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("e"))
        .localCheckpoint(true) // median + moments + halves read it
      val n = hc.agg(count(lit(1)).as("n"))
      // volume-cell window: bounded by the volume domain, not the fact
      val cum = hc.groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(Window.orderBy("v")))
      val med = cum.crossJoin(broadcast(n))
        .filter(col("cum") >= expr("(n + 1) DIV 2"))
        .agg(min("v").as("med"))
      val mo = hc.agg(count(lit(1)).as("n"),
        sum("v").as("sv"), sum("e").as("se"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).cast("decimal(38,0)").as("svv"),
        sum(expr("CAST(e AS DECIMAL(38,0)) * e")).cast("decimal(38,0)").as("see"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * e")).cast("decimal(38,0)").as("sve"))
      val halves = hc.crossJoin(broadcast(med)).agg(
        sum(when(col("v") <= col("med"), col("v")).otherwise(0L)).as("v_lo"),
        sum(when(col("v") <= col("med"), col("e")).otherwise(0L)).as("e_lo"),
        sum(when(col("v") > col("med"), col("v")).otherwise(0L)).as("v_hi"),
        sum(when(col("v") > col("med"), col("e")).otherwise(0L)).as("e_hi"))
      mo.crossJoin(broadcast(halves))
        .select(col("n").as("n_hours"),
          expr("""CAST(round(1000000 *
            | (CAST(n AS DOUBLE) * sve - CAST(sv AS DOUBLE) * se)
            | / sqrt((CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv)
            |      * (CAST(n AS DOUBLE) * see - CAST(se AS DOUBLE) * se)))
            | AS BIGINT)""".stripMargin).as("corr_e6"),
          expr("(e_lo * 1000) DIV v_lo").as("rate_lo_pm"),
          expr("(e_hi * 1000) DIV v_hi").as("rate_hi_pm"))
    },

    // R221 — Spark's NATIVE SLIDING window() builtin (6-hour windows
    // every 3 hours) certified: each event belongs to exactly TWO
    // overlapping windows; the oracle replays the assignment with an
    // explicit 2-slot explode over epoch arithmetic (window start =
    // slide-aligned buckets at offsets 0 and −1·slide). Any
    // divergence in the engine's multi-assignment (boundary events,
    // first/last slots) hash-mismatches. ev74 certified tumbling;
    // together they pin the whole window() surface.
    Q(
      "ev81_sliding_builtin",
      """WITH b AS (
        |  SELECT epoch_us(ts) // 10800000000 AS slot,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |a AS (
        |  SELECT (slot - k) * 10800000000 AS w_start_us, cents
        |  FROM b, (SELECT unnest([0, 1]) AS k)
        |  WHERE (slot - k) >= 0)
        |SELECT make_timestamp(w_start_us) AS w_start,
        |  make_timestamp(w_start_us + 21600000000) AS w_end,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM a GROUP BY w_start_us ORDER BY w_start""".stripMargin
    ) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours", "3 hours"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("n"), col("cents"))
        .orderBy("w_start")
    },

    // R223 — anomaly run-length profile (ARL, the SPC calibration
    // number): how long do >2σ hourly anomalies RUN, and how far apart
    // do they land. Anomalies via ev9's exact integer 2σ test lifted
    // window-global — (n·c − S)² > 4·(n·Q − S²) cross-multiplied, no σ
    // float; runs via the islands trick on the anomalous-hour frame
    // (hour index − row_number constant within a consecutive run);
    // inter-anomaly gaps from one lag. Everything after the fact pass
    // is spine- or anomaly-sized.
    Q(
      "ev82_anomaly_runs",
      """WITH hc AS (
        |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 AS hn,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
        |       FROM hc),
        |an AS (SELECT hn FROM hc, mo
        |       WHERE CAST(mo.n * c - mo.s AS HUGEINT) * (mo.n * c - mo.s)
        |             > 4 * (mo.n * mo.q - CAST(mo.s AS HUGEINT) * mo.s)),
        |runs AS (SELECT hn - row_number() OVER (ORDER BY hn) AS grp FROM an),
        |rl AS (SELECT CAST(count(*) AS BIGINT) AS len FROM runs GROUP BY grp),
        |gaps AS (SELECT hn - lag(hn) OVER (ORDER BY hn) AS gap FROM an)
        |SELECT
        |  CAST((SELECT count(*) FROM an) AS BIGINT) AS n_anomalies,
        |  CAST((SELECT count(*) FROM rl) AS BIGINT) AS n_runs,
        |  CAST((SELECT max(len) FROM rl) AS BIGINT) AS max_run_len,
        |  CAST((SELECT CASE WHEN count(*) = 0 THEN NULL
        |                    ELSE sum(gap) // count(*) END
        |        FROM gaps WHERE gap IS NOT NULL)
        |       AS BIGINT) AS mean_gap_hours""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(expr("unix_micros(date_trunc('hour', ts)) DIV 3600000000").as("hn"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // moments + the anomaly filter read it
      val mo = hc.agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("decimal(38,0)").as("q"))
      val an = hc.crossJoin(broadcast(mo))
        .filter(expr("""CAST(n * c - s AS DECIMAL(38,0)) * (n * c - s)
          | > 4 * (n * q - CAST(s AS DECIMAL(38,0)) * s)""".stripMargin))
        .select("hn")
        .localCheckpoint(true) // runs + gaps + count read it
      // anomaly-frame windows (≤ anomalous hours, spine-bounded)
      val wv = Window.orderBy("hn")
      val rl = an.withColumn("grp", col("hn") - row_number().over(wv))
        .groupBy("grp").agg(count(lit(1)).as("len"))
      val gaps = an.withColumn("gap", col("hn") - lag("hn", 1).over(wv))
        .filter(col("gap").isNotNull)
      val a1 = an.agg(count(lit(1)).as("n_anomalies"))
      val a2 = rl.agg(count(lit(1)).as("n_runs"), max("len").as("max_run_len"))
      val a3 = gaps.agg(
        expr("CASE WHEN count(*) = 0 THEN NULL ELSE sum(gap) DIV count(*) END")
          .as("mean_gap_hours"))
      a1.crossJoin(a2).crossJoin(a3)
    },

    // R230 — attribution-window sensitivity: ev17 splits credit, this
    // asks how much the WINDOW CHOICE itself moves the headline — the
    // share of purchases with a prior view within 1 / 7 / 30 days.
    // The last-view lookup is ONE prev-value-over-preceding window
    // per user (no join); the three windows are then pure threshold
    // tests on the same gap, expanded by a 3-row scan-local explode.
    // A metric that swings across rows here is a warning that the
    // marketing number is a parameter choice, not a fact.
    Q(
      "ev83_attribution_windows",
      """WITH lv AS (
        |  SELECT event_type, epoch_us(ts) AS t_us,
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_us
        |  FROM events),
        |pp AS (SELECT t_us - v_us AS gap_us FROM lv
        |       WHERE event_type = 'purchase'),
        |w AS (SELECT unnest([1, 7, 30]) AS w_days)
        |SELECT w.w_days,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN gap_us IS NOT NULL
        |                 AND gap_us <= w.w_days * 86400000000
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
        |  (CAST(sum(CASE WHEN gap_us IS NOT NULL
        |                  AND gap_us <= w.w_days * 86400000000
        |             THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |    // CAST(count(*) AS BIGINT) AS share_pm
        |FROM pp, w GROUP BY w.w_days ORDER BY w.w_days""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val pp = Tables.events(s, d)
        .withColumn("v_us",
          max(when(col("event_type") === "view", unix_micros(col("ts")))).over(w))
        .filter(col("event_type") === "purchase")
        .select((unix_micros(col("ts")) - col("v_us")).as("gap_us"))
      pp.select(col("gap_us"),
          explode(array(lit(1L), lit(7L), lit(30L))).as("w_days"))
        .groupBy("w_days")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("gap_us").isNotNull
            && col("gap_us") <= col("w_days") * 86400000000L, 1L)
            .otherwise(0L)).as("n_attributed"))
        .withColumn("share_pm", expr("(n_attributed * 1000) DIV n_purchases"))
        .orderBy("w_days")
    },

    // R233 — first-touch vs last-touch attribution disagreement: the
    // two ENDPOINT models (ev17 splits the middle) credited per
    // channel, side by side — a channel whose first/last credits
    // diverge is an opener-vs-closer, and the table quantifies how
    // much the model choice moves budget. Both lookups are min/max
    // windows over the preceding frame with the TYPE smuggled through
    // an exact integer encoding (µs·8 + type_id — window max_by
    // doesn't exist; the encoding is its portable replacement, decoded
    // by % 8 identically on both engines). One per-user window pass;
    // the credit table is |channels|-sized.
    Q(
      "ev84_touch_models",
      """WITH enc AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) * 8 +
        |      CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |           WHEN 'signup' THEN 2 ELSE 3 END END AS e
        |  FROM events),
        |w AS (SELECT event_type,
        |    min(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fe,
        |    max(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS le
        |  FROM enc),
        |p AS (SELECT
        |    CASE fe % 8 WHEN 0 THEN 'click' WHEN 1 THEN 'error'
        |         WHEN 2 THEN 'signup' ELSE 'view' END AS ft,
        |    CASE le % 8 WHEN 0 THEN 'click' WHEN 1 THEN 'error'
        |         WHEN 2 THEN 'signup' ELSE 'view' END AS lt
        |  FROM w WHERE event_type = 'purchase' AND fe IS NOT NULL),
        |f AS (SELECT ft AS channel, CAST(count(*) AS BIGINT) AS first_credits
        |      FROM p GROUP BY 1),
        |l AS (SELECT lt AS channel, CAST(count(*) AS BIGINT) AS last_credits
        |      FROM p GROUP BY 1)
        |SELECT coalesce(f.channel, l.channel) AS channel,
        |  coalesce(f.first_credits, 0) AS first_credits,
        |  coalesce(l.last_credits, 0) AS last_credits,
        |  coalesce(l.last_credits, 0) - coalesce(f.first_credits, 0) AS delta
        |FROM f FULL OUTER JOIN l ON f.channel = l.channel
        |ORDER BY channel""".stripMargin
    ) { (s, d) =>
      val typeId = expr("""CASE event_type WHEN 'click' THEN 0
        | WHEN 'error' THEN 1 WHEN 'signup' THEN 2 ELSE 3 END""".stripMargin)
      val enc = Tables.events(s, d)
        .withColumn("e", when(col("event_type") =!= "purchase",
          unix_micros(col("ts")) * 8 + typeId))
      val wp = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      def decode(c: org.apache.spark.sql.Column) =
        when(c % 8 === 0, "click").when(c % 8 === 1, "error")
          .when(c % 8 === 2, "signup").otherwise("view")
      val p = enc
        .withColumn("fe", min("e").over(wp))
        .withColumn("le", max("e").over(wp))
        .filter(col("event_type") === "purchase" && col("fe").isNotNull)
        .select(decode(col("fe")).as("ft"), decode(col("le")).as("lt"))
        .localCheckpoint(true) // both credit rollups read it
      val f = p.groupBy(col("ft").as("channel"))
        .agg(count(lit(1)).as("first_credits"))
      val l = p.groupBy(col("lt").as("channel"))
        .agg(count(lit(1)).as("last_credits"))
      f.join(l, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("first_credits"), lit(0L)).as("first_credits"),
          coalesce(col("last_credits"), lit(0L)).as("last_credits"),
          (coalesce(col("last_credits"), lit(0L))
            - coalesce(col("first_credits"), lit(0L))).as("delta"))
        .orderBy("channel")
    },

    // R236 — bot/automation detection by inter-event regularity: a
    // human's gaps are bursty, a cron job's are metronomic — so a
    // suspiciously LOW squared coefficient of variation is the flag
    // (the training-data hygiene filter that removes machine traffic
    // before corpus stats are trusted). CV² = (nQ−S²)/S² entirely in
    // integers — gap² passes 2⁶³ (µs gaps reach 10⁹⁺) so Q runs in
    // decimal/HUGEINT; the flag is the cross-multiply 10·(nQ−S²) < S².
    // One per-user lag pass, user-sized output, n≥10 gaps floor.
    Q(
      "ev86_bot_regularity",
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |u AS (SELECT user_id,
        |        CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(gap) AS BIGINT) AS s,
        |        CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS q
        |      FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n AS n_gaps,
        |  s // n AS mean_gap_us,
        |  CAST((1000000 * (n * q - CAST(s AS HUGEINT) * s))
        |       // (CAST(s AS HUGEINT) * s) AS BIGINT) AS cv2_e6,
        |  CASE WHEN 10 * (n * q - CAST(s AS HUGEINT) * s)
        |            < CAST(s AS HUGEINT) * s THEN 1 ELSE 0 END AS bot_flag
        |FROM u WHERE n >= 10 ORDER BY user_id""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val g = Tables.events(s, d)
        .withColumn("gap",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap").isNotNull)
      val u = g.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum("gap").as("s"),
        sum(expr("CAST(gap AS DECIMAL(38,0)) * gap"))
          .cast("decimal(38,0)").as("q"))
      u.filter(col("n") >= 10)
        .select(col("user_id"), col("n").as("n_gaps"),
          expr("s DIV n").as("mean_gap_us"),
          expr("""CAST((1000000 * (n * q - CAST(s AS DECIMAL(38,0)) * s))
            | DIV (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)""".stripMargin)
            .as("cv2_e6"),
          when(expr("""10 * (n * q - CAST(s AS DECIMAL(38,0)) * s)
            | < CAST(s AS DECIMAL(38,0)) * s""".stripMargin), 1L)
            .otherwise(0L).as("bot_flag"))
        .orderBy("user_id")
    },

    // R241 — conversion-latency TREND: ev19 gives the lifetime
    // distribution, this tracks the per-week exact median of
    // view→purchase latency over time — the "are we getting faster"
    // product readout, and a drifting median here invalidates any
    // fixed attribution window (ev83). Latency from the same
    // prev-view window as ev83; medians are exact lower rank picks on
    // (week, day-latency) CELLS (ev19 discipline — both domains
    // bounded). One fact pass; everything after is cell-sized.
    Q(
      "ev87_conversion_trend",
      """WITH lv AS (
        |  SELECT event_type, ts, epoch_us(ts) AS t_us,
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_us
        |  FROM events),
        |pp AS (SELECT epoch_us(ts) // 604800000000 AS wk,
        |         (t_us - v_us) // 86400000000 AS lat_days
        |       FROM lv WHERE event_type = 'purchase' AND v_us IS NOT NULL),
        |cells AS (SELECT wk, lat_days, CAST(count(*) AS BIGINT) AS c
        |          FROM pp GROUP BY 1, 2),
        |cum AS (SELECT wk, lat_days, c,
        |          sum(c) OVER (PARTITION BY wk ORDER BY lat_days) AS cum,
        |          sum(c) OVER (PARTITION BY wk) AS n
        |        FROM cells)
        |SELECT wk, CAST(max(n) AS BIGINT) AS n_conversions,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lat_days END) AS BIGINT)
        |    AS median_latency_days
        |FROM cum GROUP BY wk ORDER BY wk""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val pp = Tables.events(s, d)
        .withColumn("v_us",
          max(when(col("event_type") === "view", unix_micros(col("ts")))).over(w))
        .filter(col("event_type") === "purchase" && col("v_us").isNotNull)
        .select(expr("unix_micros(ts) DIV 604800000000").as("wk"),
          expr("(unix_micros(ts) - v_us) DIV 86400000000").as("lat_days"))
      val cells = pp.groupBy("wk", "lat_days").agg(count(lit(1)).as("c"))
      val cum = cells
        .withColumn("cum", sum("c").over(
          Window.partitionBy("wk").orderBy("lat_days")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("c").over(Window.partitionBy("wk")))
      cum.groupBy("wk")
        .agg(max("n").as("n_conversions"),
          min(when(col("cum") >= expr("(n + 1) DIV 2"), col("lat_days")))
            .as("median_latency_days"))
        .orderBy("wk")
    },

    // R248 — intraday peak-share (load concentration per day): what
    // share of each day's traffic lands in its single busiest hour —
    // flat days provision easily, spiky days don't (the per-day
    // complement of ev79's global η²). Peak share is one max/sum per
    // day over hour cells; the summary row reports the mean, the
    // worst day under a deterministic composed tie key (q136's
    // discipline), and the spiky-day count (>p90-share via a rank
    // pick on day cells).
    Q(
      "ev88_peak_share",
      """WITH hc AS (
        |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |dd AS (SELECT dy, CAST(max(c) AS BIGINT) AS peak,
        |         CAST(sum(c) AS BIGINT) AS tot
        |       FROM hc GROUP BY 1),
        |sh AS (SELECT dy, (peak * 1000) // tot AS share_pm,
        |         CAST(date_diff('day', DATE '1970-01-01', CAST(dy AS DATE))
        |              AS BIGINT) AS ed
        |       FROM dd),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sh),
        |rk AS (SELECT share_pm, row_number() OVER (ORDER BY share_pm, ed) AS rn
        |       FROM sh),
        |p90 AS (SELECT min(share_pm) AS p90 FROM rk, n
        |        WHERE rn >= (9*n.n + 9) // 10)
        |SELECT n.n AS n_days,
        |  CAST((SELECT sum(share_pm) // count(*) FROM sh) AS BIGINT)
        |    AS mean_share_pm,
        |  (SELECT max(share_pm) FROM sh) AS max_share_pm,
        |  (SELECT max_by(dy, share_pm * 100000 + ed) FROM sh) AS worst_day,
        |  CAST((SELECT count(*) FROM sh, p90 WHERE share_pm >= p90) AS BIGINT)
        |    AS n_spiky_days
        |FROM n""".stripMargin
    ) { (s, d) =>
      val hc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val sh = hc.groupBy("dy")
        .agg(max("c").as("peak"), sum("c").as("tot"))
        .select(col("dy"),
          expr("(peak * 1000) DIV tot").as("share_pm"),
          datediff(to_date(col("dy")), to_date(lit("1970-01-01")))
            .cast("long").as("ed"))
        .localCheckpoint(true) // rank pick + all summary readouts
      val n = sh.agg(count(lit(1)).as("n"))
      // day-cell rank window: bounded by the date domain
      val rk = sh.withColumn("rn",
        row_number().over(Window.orderBy("share_pm", "ed")).cast("long"))
      val p90 = rk.crossJoin(broadcast(n))
        .filter(col("rn") >= expr("(9*n + 9) DIV 10"))
        .agg(min("share_pm").as("p90"))
      val summary = sh.crossJoin(broadcast(p90)).agg(
        count(lit(1)).as("n_days"),
        expr("sum(share_pm) DIV count(*)").as("mean_share_pm"),
        max("share_pm").as("max_share_pm"),
        expr("max_by(dy, share_pm * 100000 + ed)").as("worst_day"),
        sum(when(col("share_pm") >= col("p90"), 1L).otherwise(0L))
          .as("n_spiky_days"))
      summary.select("n_days", "mean_share_pm", "max_share_pm",
        "worst_day", "n_spiky_days")
    },

    // T95 — exact SHAPLEY channel attribution: the game-theoretic upgrade
    // of T21's rule-based credit split (linear/first/last all answer
    // "which rule", Shapley answers "what is each channel WORTH" with
    // the only split that is efficient + symmetric + marginal). The
    // coalition game: players are the 4 non-purchase channels, v(S) =
    // observed conversion rate of users whose touched-channel set is
    // EXACTLY S (e6-quantized integer rate; unobserved coalitions
    // contribute v=0 — the standard data-driven estimator). Channel
    // sets ride a 4-BIT MASK (view=1, click=2, signup=4, error=8) so
    // subset algebra is pure arithmetic — DIV/% bit tests, m+b unions —
    // portable to any engine with integer division. φ_c = Σ_{S∌c}
    // |S|!(3−|S|)!/4! · (v(S∪c) − v(S)): with |C|=4 the weights are
    // {6,2,2,6}/24, so 24·φ stays an EXACT integer in e6 rate units.
    // Scale: ONE user-keyed aggregate (map-side combinable) collapses
    // the fact to ≤16 coalition rows; the 16×4 Shapley sum is
    // broadcast algebra — nothing downstream of the first shuffle
    // scales with the data.
    Q(
      "ev90_shapley_attribution",
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS m,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |sets AS (SELECT m, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(conv) AS BIGINT) AS c
        |         FROM u GROUP BY 1),
        |r AS (SELECT m, (1000000 * c) // n AS r_e6 FROM sets),
        |grid AS (SELECT unnest(range(0, 16)) AS m),
        |ch AS (SELECT * FROM (VALUES ('view', 1), ('click', 2),
        |         ('signup', 4), ('error', 8)) AS t(channel, b)),
        |terms AS (
        |  SELECT ch.channel,
        |    CASE (grid.m % 2) + (grid.m // 2) % 2
        |         + (grid.m // 4) % 2 + (grid.m // 8) % 2
        |      WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
        |      * (coalesce(rw.r_e6, 0) - coalesce(ro.r_e6, 0)) AS t
        |  FROM grid CROSS JOIN ch
        |  LEFT JOIN r ro ON ro.m = grid.m
        |  LEFT JOIN r rw ON rw.m = grid.m + ch.b
        |  WHERE (grid.m // ch.b) % 2 = 0)
        |SELECT channel, CAST(sum(t) AS BIGINT) AS phi24_e6,
        |  CAST(sum(t) AS DOUBLE) / 24000000.0 AS phi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      def has(t: String) = max(when(col("event_type") === t, 1L).otherwise(0L))
      val sets = Tables.events(s, d)
        .groupBy("user_id")
        .agg((has("view") + lit(2) * has("click") + lit(4) * has("signup")
          + lit(8) * has("error")).as("m"), has("purchase").as("conv"))
        .groupBy("m").agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val r = sets.select(col("m"), expr("(1000000 * c) DIV n").as("r_e6"))
      val grid = s.range(0, 16).select(col("id").as("m"))
      val ch = s.createDataFrame(Seq(("view", 1L), ("click", 2L),
        ("signup", 4L), ("error", 8L))).toDF("channel", "b")
      val pc = expr("m % 2 + (m DIV 2) % 2 + (m DIV 4) % 2 + (m DIV 8) % 2")
      val weight = when(pc === 0, 6L).when(pc === 1, 2L)
        .when(pc === 2, 2L).otherwise(6L)
      val ro = r.select(col("m").as("mo"), col("r_e6").as("ro"))
      val rw = r.select(col("m").as("mw"), col("r_e6").as("rw"))
      grid.crossJoin(broadcast(ch))
        .filter(expr("(m DIV b) % 2 = 0"))
        .join(broadcast(ro), col("mo") === col("m"), "left")
        .join(broadcast(rw), col("mw") === col("m") + col("b"), "left")
        .select(col("channel"),
          (weight * (coalesce(col("rw"), lit(0L)) - coalesce(col("ro"), lit(0L))))
            .as("t"))
        .groupBy("channel")
        .agg(sum("t").as("phi24_e6"),
          (sum("t").cast("double") / lit(24000000.0)).as("phi"))
        .orderBy("channel")
    },

    // T96 — Markov removal-effect attribution: the OTHER standard
    // data-driven credit model, completing the pair with T95's Shapley
    // (Shapley prices coalition membership; removal effect prices a
    // channel's position in the JOURNEY GRAPH — drop the state, don't
    // renormalize, and measure how much absorption into purchase
    // survives). reach = Σ_s start(s)·absorb₈(s) with ev58's exact
    // e6-integer 8-step absorption recurrence, start(s) = first-event
    // distribution; five scenarios (base + 4 removals) run the SAME
    // unrolled rounds on the ≤5×5 transition frame. Everything after
    // the bigram + first-event aggregates is broadcast-tiny algebra —
    // 40 joins on ≤25-row frames, nothing scales with the fact.
    Q("ev91_markov_removal", markovRemovalOracle) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
      val t = ev
        .select(col("event_type").as("prev"),
          lead(col("event_type"), 1).over(byUser).as("next"))
        .filter(col("next").isNotNull && col("prev") =!= "purchase")
        .groupBy("prev", "next").agg(count(lit(1)).as("cnt"))
      val m = t.select(col("prev"), col("next"),
          expr("(cnt * 1000000) DIV sum(cnt) OVER (PARTITION BY prev)").as("p_e6"))
        .localCheckpoint(true) // 5 scenarios × 8 rounds read it
      val q0 = m.filter(col("next") =!= "purchase")
      val r0 = m.filter(col("next") === "purchase")
        .select(col("prev"), col("p_e6").as("r_e6"))
      val starts = ev
        .withColumn("rn", row_number().over(byUser))
        .filter(col("rn") === 1)
        .groupBy(col("event_type").as("state")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // one reach join per scenario
      collectedMatrix(m) match {
        case Some(rows) =>
          // driver form of the 5-scenario recurrence (40 tiny joins on
          // ≤25-row frames in the distributed form — see collectedMatrix)
          val startRows = starts.collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          def reach(removed: Option[String]): Long = {
            val mm = rows.filter(t => !removed.contains(t._1))
            val states = mm.map(_._1).distinct
            val a = absorb8(states,
              mm.filter(t => t._2 != "purchase" && !removed.contains(t._2)),
              mm.filter(_._2 == "purchase").map(t => t._1 -> t._3).toMap)
            val num = startRows.map { case (st, cnt) =>
              val v =
                if (st == "purchase") 1000000L
                else if (removed.contains(st)) 0L
                else a.getOrElse(st, 0L)
              cnt * v
            }.sum
            num / startRows.map(_._2).sum
          }
          val base = reach(None)
          import s.implicits._
          Seq("click", "error", "signup", "view").map { c =>
            val rem = reach(Some(c))
            val pm = if (base == 0) 0L else (base - rem) * 1000L / base
            (c, base, rem, pm)
          }.toDF("channel", "reach_base_e6", "reach_removed_e6",
            "removal_effect_pm").orderBy("channel")
        case None => // distributed fallback: vocab above the cap
      def reachDf(removed: Option[String]): DataFrame = {
        val q = removed.map(c =>
          q0.filter(col("prev") =!= c && col("next") =!= c)).getOrElse(q0)
        val r = removed.map(c => r0.filter(col("prev") =!= c)).getOrElse(r0)
        val states = removed.map(c =>
          m.filter(col("prev") =!= c)).getOrElse(m)
          .select(col("prev").as("state")).distinct()
        var a = states.withColumn("v_e6", lit(0L))
        for (_ <- 1 to 8) {
          val step = q.join(a, q("next") === a("state"))
            .groupBy(q("prev").as("state"))
            .agg(expr("CAST(sum(p_e6 * v_e6) DIV 1000000 AS BIGINT)").as("acc"))
          a = states
            .join(r.withColumnRenamed("prev", "state"), Seq("state"), "left")
            .join(step, Seq("state"), "left")
            .select(col("state"),
              (coalesce(col("r_e6"), lit(0L)) + coalesce(col("acc"), lit(0L)))
                .as("v_e6"))
        }
        val value = when(col("state") === "purchase", lit(1000000L))
          .otherwise(removed.map(c =>
            when(col("state") === c, lit(0L))
              .otherwise(coalesce(col("v_e6"), lit(0L))))
            .getOrElse(coalesce(col("v_e6"), lit(0L))))
        starts.join(a, Seq("state"), "left")
          .withColumn("v", value)
          .agg(expr("CAST(sum(cnt * v) DIV sum(cnt) AS BIGINT)").as("reach_e6"))
      }
      val base = reachDf(None).select(col("reach_e6").as("reach_base_e6"))
      Seq("click", "error", "signup", "view").map { c =>
        reachDf(Some(c)).select(col("reach_e6").as("reach_removed_e6"))
          .crossJoin(base)
          .select(lit(c).as("channel"), col("reach_base_e6"),
            col("reach_removed_e6"),
            when(col("reach_base_e6") === 0, 0L)
              .otherwise(expr(
                "((reach_base_e6 - reach_removed_e6) * 1000) DIV reach_base_e6"))
              .as("removal_effect_pm"))
      }.reduce(_ unionByName _).orderBy("channel")
      }
    },

    // T98 — single change-point detection (binary-segmentation step 1,
    // the CUSUM-location twin of ev20's drift alarm): the split of the
    // daily event-count series that maximizes the between-segment sum
    // of squares S1²/n1 + S2²/n2 (equivalently minimizes pooled SSE —
    // Σx² is split-invariant so it cancels). Entirely exact: per-split
    // scores are the integer cross-form (S1²·n2 + S2²·n1)·10⁶ floor-
    // divided by n1·n2 in decimal(38,0), so the argmax is a total-order
    // pick, never a float race. The day-spine cumulative comes from a
    // triangular SELF-JOIN on the calendar-bounded spine (≤ days rows
    // — no window at all, partitioned or otherwise), which also makes
    // the entry spine²-cheap and fact-linear at any corpus size.
    Q(
      "ev92_changepoint",
      """WITH dc AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(c) AS BIGINT) AS s FROM dc),
        |pre AS (SELECT a.dy, CAST(count(*) AS BIGINT) AS n1,
        |               CAST(sum(b.c) AS BIGINT) AS s1
        |        FROM dc a JOIN dc b ON b.dy <= a.dy GROUP BY 1),
        |scored AS (SELECT dy, n1, s1, n - n1 AS n2, s - s1 AS s2,
        |    (CAST(s1 AS HUGEINT) * s1 * (n - n1)
        |     + CAST(s - s1 AS HUGEINT) * (s - s1) * n1) * 1000000
        |      // (CAST(n1 AS HUGEINT) * (n - n1)) AS score_micro
        |  FROM pre CROSS JOIN tot WHERE n1 < n)
        |SELECT dy AS split_day, n1 AS n_before, n2 AS n_after,
        |  (s1 * 1000) // n1 AS mean_before_milli,
        |  (s2 * 1000) // n2 AS mean_after_milli,
        |  CAST(score_micro AS BIGINT) AS score_micro
        |FROM scored ORDER BY score_micro DESC, dy LIMIT 1""".stripMargin
    ) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // spine self-join + totals read it
      val tot = dc.agg(count(lit(1)).as("n"), sum("c").as("s"))
      val pre = dc.as("a")
        .join(dc.select(col("dy").as("bdy"), col("c").as("bc")),
          col("bdy") <= col("dy"))
        .groupBy("dy")
        .agg(count(lit(1)).as("n1"), sum("bc").as("s1"))
      val d38 = "decimal(38,0)"
      val scored = pre.crossJoin(broadcast(tot))
        .filter(col("n1") < col("n"))
        .withColumn("n2", col("n") - col("n1"))
        .withColumn("s2", col("s") - col("s1"))
        .withColumn("num",
          (col("s1").cast(d38) * col("s1") * col("n2")
            + col("s2").cast(d38) * col("s2") * col("n1")) * 1000000)
        .withColumn("den", col("n1").cast(d38) * col("n2"))
        // exact floor quotient (HypoTests' pmod-subtract discipline)
        .withColumn("score_micro",
          ((col("num") - pmod(col("num"), col("den"))) / col("den"))
            .cast("long"))
      scored.select(col("dy").as("split_day"),
          col("n1").as("n_before"), col("n2").as("n_after"),
          expr("(s1 * 1000) DIV n1").as("mean_before_milli"),
          expr("(s2 * 1000) DIV n2").as("mean_after_milli"),
          col("score_micro"))
        .orderBy(desc("score_micro"), col("split_day")).limit(1)
    },

    // T99 — interrupted time series (ITS, segmented regression): the
    // causal readout ev32's diff-in-diff can't give WITHOUT a control
    // group — fit level+trend OLS separately before and after a fixed
    // intervention point (the midpoint day here, deterministic) and
    // report both slopes plus the level SHIFT at the split (each
    // segment's fitted value extrapolated to the split day). Entirely
    // exact: per-segment OLS moments are integer sums over the day
    // spine, slope = (nΣxy−ΣxΣy)/D and fitted ŷ(s) = [Σy·D +
    // (nΣxy−ΣxΣy)(n·s−Σx)]/(n·D) are single e6 integral divisions of
    // decimal(38,0) integers — Spark's DIV and DuckDB's // BOTH
    // truncate toward zero (measured: −7//2 = −3 on both), so signed
    // slopes stay engine-exact. Aggregates only — no windows.
    Q(
      "ev93_its",
      """WITH dc AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1),
        |ix AS (SELECT CAST(datediff('day', (SELECT min(dy) FROM dc), dy)
        |              AS BIGINT) AS x, c FROM dc),
        |sp AS (SELECT (max(x) + 1) // 2 AS s FROM ix),
        |m AS (SELECT CASE WHEN x < s THEN 0 ELSE 1 END AS seg,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * c) AS HUGEINT) AS sxy
        |  FROM ix CROSS JOIN sp GROUP BY 1),
        |f AS (SELECT seg, n,
        |    (n * sxy - CAST(sx AS HUGEINT) * sy) AS bn,
        |    (n * sxx - CAST(sx AS HUGEINT) * sx) AS d,
        |    sx, sy, s
        |  FROM m CROSS JOIN sp),
        |g AS (SELECT seg, n,
        |    CAST((bn * 1000000) // d AS BIGINT) AS slope_e6,
        |    CAST(((CAST(sy AS HUGEINT) * d + bn * (n * s - sx)) * 1000000)
        |         // (n * d) AS BIGINT) AS level_at_split_e6
        |  FROM f)
        |SELECT max(CASE WHEN seg = 0 THEN n END) AS n_pre,
        |  max(CASE WHEN seg = 1 THEN n END) AS n_post,
        |  max(CASE WHEN seg = 0 THEN slope_e6 END) AS slope_pre_e6,
        |  max(CASE WHEN seg = 1 THEN slope_e6 END) AS slope_post_e6,
        |  max(CASE WHEN seg = 1 THEN level_at_split_e6 END)
        |    - max(CASE WHEN seg = 0 THEN level_at_split_e6 END)
        |    AS level_shift_e6
        |FROM g""".stripMargin
    ) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("c"))
      val mn = dc.agg(min("dy").as("d0"))
      val ix = dc.crossJoin(broadcast(mn))
        .select(datediff(col("dy"), col("d0")).cast("long").as("x"), col("c"))
        .localCheckpoint(true) // split scalar + both segments read it
      val sp = ix.agg(expr("CAST((max(x) + 1) DIV 2 AS BIGINT)").as("s"))
      val d38 = "decimal(38,0)"
      val m = ix.crossJoin(broadcast(sp))
        .groupBy(when(col("x") < col("s"), 0L).otherwise(1L).as("seg"))
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("c").as("sy"),
          sum(col("x").cast(d38) * col("x")).as("sxx"),
          sum(col("x").cast(d38) * col("c")).as("sxy"),
          max(col("s")).as("s"))
      val f = m.select(col("seg"), col("n"), col("sx"), col("sy"), col("s"),
        (col("n").cast(d38) * col("sxy") - col("sx").cast(d38) * col("sy")).as("bn"),
        (col("n").cast(d38) * col("sxx") - col("sx").cast(d38) * col("sx")).as("d"))
      val g = f.select(col("seg"), col("n"),
        expr("CAST((bn * 1000000) DIV d AS BIGINT)").as("slope_e6"),
        expr("""CAST(((CAST(sy AS DECIMAL(38,0)) * d
                 + bn * (CAST(n AS DECIMAL(38,0)) * s - sx)) * 1000000)
                DIV (CAST(n AS DECIMAL(38,0)) * d) AS BIGINT)""".stripMargin
          .replaceAll("\\s+", " ")).as("level_at_split_e6"))
      g.agg(
        max(when(col("seg") === 0, col("n"))).as("n_pre"),
        max(when(col("seg") === 1, col("n"))).as("n_post"),
        max(when(col("seg") === 0, col("slope_e6"))).as("slope_pre_e6"),
        max(when(col("seg") === 1, col("slope_e6"))).as("slope_post_e6"),
        (max(when(col("seg") === 1, col("level_at_split_e6")))
          - max(when(col("seg") === 0, col("level_at_split_e6"))))
          .as("level_shift_e6"))
    },

    // T100 — one-sided CUSUM drift monitor on the daily event-count
    // series (ev92 FINDS the single best split in hindsight; CUSUM is
    // the SEQUENTIAL monitor that fires while drift happens — the
    // production pager). The recursion Cᵢ = max(0, Cᵢ₋₁ + (xᵢ − μ))
    // closes over prefix sums: Cᵢ = Sᵢ − min(0, min_{j≤i} Sⱼ), with
    // Sᵢ = Σ(n·xₜ − T) kept EXACTLY integral by scaling through n
    // (μ = T/n never materializes as a float). Both the prefix sum and
    // its running minimum come from triangular self-joins on the
    // calendar-bounded day spine (ev92's idiom — no window at all).
    // The 3σ alarm is the integer cross-form n·C² > 9·Σd² (C and d
    // share the ×n scaling). decimal(38,0)/HUGEINT throughout; the
    // no-breach case is pinned to epoch via coalesce on both engines.
    Q(
      "ev94_cusum",
      """WITH dc AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS dy,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(c) AS BIGINT) AS t FROM dc),
        |pre AS (SELECT a.dy,
        |    CAST(sum(CAST(tot.n AS HUGEINT) * b.c - tot.t) AS HUGEINT) AS sp
        |  FROM dc a JOIN dc b ON b.dy <= a.dy CROSS JOIN tot GROUP BY 1),
        |rm AS (SELECT a.dy, a.sp,
        |    least(CAST(0 AS HUGEINT), min(b.sp)) AS mn
        |  FROM pre a JOIN pre b ON b.dy <= a.dy GROUP BY a.dy, a.sp),
        |cu AS (SELECT dy, sp - mn AS cval FROM rm),
        |sd AS (SELECT CAST(sum((CAST(tot.n AS HUGEINT) * c - tot.t)
        |                  * (CAST(tot.n AS HUGEINT) * c - tot.t)) AS HUGEINT)
        |         AS ssd
        |       FROM dc CROSS JOIN tot)
        |SELECT tot.n AS n_days,
        |  CAST((max(cu.cval) * 1000) // tot.n AS BIGINT) AS cusum_max_milli,
        |  CAST(sum(CASE WHEN tot.n * cu.cval * cu.cval > 9 * sd.ssd
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_days,
        |  coalesce(min(CASE WHEN tot.n * cu.cval * cu.cval > 9 * sd.ssd
        |       THEN cu.dy END), TIMESTAMP '1970-01-01') AS first_breach_day
        |FROM cu CROSS JOIN tot CROSS JOIN sd
        |GROUP BY tot.n""".stripMargin
    ) { (s, d) =>
      val d38 = "decimal(38,0)"
      val dc = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // prefix join + Σd² read it
      val tot = dc.agg(count(lit(1)).as("n"), sum("c").as("t"))
      val pre = dc.as("a")
        .join(dc.select(col("dy").as("bdy"), col("c").as("bc")),
          col("bdy") <= col("dy"))
        .crossJoin(broadcast(tot))
        .groupBy("dy")
        .agg(sum(col("n").cast(d38) * col("bc") - col("t")).as("sp"))
        .localCheckpoint(true) // running-min self-join reads it twice
      val rm = pre.as("a")
        .join(pre.select(col("dy").as("bdy"), col("sp").as("bsp")),
          col("bdy") <= col("dy"))
        .groupBy("dy", "sp")
        .agg(least(lit(0).cast(d38), min(col("bsp"))).as("mn"))
      val cu = rm.select(col("dy"), (col("sp") - col("mn")).as("cval"))
      val sd = dc.crossJoin(broadcast(tot))
        .agg(sum((col("n").cast(d38) * col("c") - col("t"))
          * (col("n").cast(d38) * col("c") - col("t"))).as("ssd"))
      val breach = col("n").cast(d38) * col("cval") * col("cval") >
        lit(9).cast(d38) * col("ssd")
      cu.crossJoin(broadcast(tot)).crossJoin(broadcast(sd))
        .groupBy("n")
        .agg(
          expr("CAST((max(cval) * 1000) DIV n AS BIGINT)").as("cusum_max_milli"),
          sum(when(breach, 1L).otherwise(0L)).as("n_breach_days"),
          // session-TZ-safe sentinel: java.sql.Timestamp.valueOf parses
          // in the JVM DEFAULT zone and shifts off UTC hosts (r8 ADVICE)
          coalesce(min(when(breach, col("dy"))),
            to_timestamp(lit("1970-01-01 00:00:00")))
            .as("first_breach_day"))
        .select(col("n").as("n_days"), col("cusum_max_milli"),
          col("n_breach_days"), col("first_breach_day"))
    },

    // E95 — weekly SEASONALITY phase per event type (r10, the
    // full-argument-reduction trig consumer — verdict item 3): the
    // circular-statistics resultant (Σsin θ, Σcos θ) of each event's
    // position in the week, where θ = raw epoch seconds · 2π/604800 —
    // deliberately UNREDUCED (≈17,600 radians at 2025 timestamps,
    // ~11,000 quadrants), so the PinnedMath.trigSteps Cody–Waite fold
    // runs on every row and the oracle hash certifies it end-to-end on
    // real data, not just q157's grid. Each sin/cos is floored to e6
    // BEFORE summing (long sums are order-invariant — raw double sums
    // would flake across partitionings), so the resultant is exact on
    // both engines. One scan + one fixed-width aggregate; the phase
    // chain is scan-local arithmetic inside whole-stage codegen.
    Q(
      "ev95_weekly_phase",
      """WITH p AS (SELECT event_type,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS DOUBLE)
        |      * 6.283185307179586E0 / 604800E0 AS x
        |  FROM events),
        |""".stripMargin +
        graft.functions.PinnedMath.stepCtes(
          graft.functions.PinnedMath.trigSteps, "p", "ptF") +
        """b AS (SELECT event_type,
        |    CAST(floor(1000000E0 * sinx) AS BIGINT) AS s_micro,
        |    CAST(floor(1000000E0 * cosx) AS BIGINT) AS c_micro
        |  FROM ptF)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(s_micro) AS BIGINT) AS sum_sin_micro,
        |  CAST(sum(c_micro) AS BIGINT) AS sum_cos_micro
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val pm = graft.functions.PinnedMath
      val p = Tables.events(s, d).select(col("event_type"),
        (expr("CAST(unix_micros(ts) DIV 1000000 AS DOUBLE)")
          * lit(6.283185307179586) / lit(604800.0)).as("x"))
      pm.withSteps(p, pm.trigSteps)
        .select(col("event_type"),
          floor(lit(1000000.0) * col("sinx")).cast("long").as("s_micro"),
          floor(lit(1000000.0) * col("cosx")).cast("long").as("c_micro"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("s_micro").as("sum_sin_micro"),
          sum("c_micro").as("sum_cos_micro"))
        .orderBy("event_type")
    }
  )

  private def spark_range_h(s: org.apache.spark.sql.SparkSession) =
    s.range(1, 8).select(col("id").as("h"))

  /** ev91's oracle: ev58's 8-round absorption unroll replayed FIVE times
    * — once on the full chain, once per removed channel (transitions
    * into OR out of the removed state dropped, probabilities NOT
    * renormalized — the standard removal-effect estimator), each reach
    * weighted by the first-event start distribution. Scenario CTEs are
    * generated by the same loop that builds the Spark side's rounds. */
  private[graft] lazy val markovRemovalOracle: String = {
    val channels = Seq("view", "click", "signup", "error")
    def rounds(tag: String) = (1 to 8).map { i =>
      s"""s$tag$i AS (SELECT q.prev AS state,
         |    CAST(sum(q.p_e6 * a$tag${i - 1}.v_e6) // 1000000 AS BIGINT) AS acc
         |  FROM q$tag q JOIN a$tag${i - 1} ON q.next = a$tag${i - 1}.state
         |  GROUP BY 1),
         |a$tag$i AS (SELECT t.state,
         |    CAST(coalesce(r.r_e6, 0) + coalesce(s$tag$i.acc, 0) AS BIGINT)
         |      AS v_e6
         |  FROM st$tag t LEFT JOIN r$tag r ON r.prev = t.state
         |    LEFT JOIN s$tag$i ON s$tag$i.state = t.state)"""
        .stripMargin
    }.mkString(",\n")
    def scenario(tag: String, rm: Option[String]) = {
      val filt = rm.map(c => s"WHERE prev <> '$c' AND next <> '$c'").getOrElse("")
      val rfilt = rm.map(c => s"AND prev <> '$c'").getOrElse("")
      s"""q$tag AS (SELECT prev, next, p_e6 FROM q0 $filt),
         |r$tag AS (SELECT prev, r_e6 FROM r0 WHERE 1=1 $rfilt),
         |st$tag AS (SELECT DISTINCT prev AS state FROM m ${rm.map(c =>
           s"WHERE prev <> '$c'").getOrElse("")}),
         |a${tag}0 AS (SELECT state, CAST(0 AS BIGINT) AS v_e6 FROM st$tag),
         |${rounds(tag)},
         |reach$tag AS (
         |  SELECT CAST(sum(s.cnt * CASE
         |      WHEN s.state = 'purchase' THEN 1000000
         |      ${rm.map(c => s"WHEN s.state = '$c' THEN 0").getOrElse("")}
         |      ELSE coalesce(a.v_e6, 0) END) // sum(s.cnt) AS BIGINT) AS reach_e6
         |  FROM starts s LEFT JOIN a${tag}8 a ON a.state = s.state)"""
        .stripMargin
    }
    val scen = scenario("b", None) + ",\n" +
      channels.map(c => scenario(s"_$c", Some(c))).mkString(",\n")
    val out = channels.map { c =>
      s"""SELECT '$c' AS channel, b.reach_e6 AS reach_base_e6,
         |  x.reach_e6 AS reach_removed_e6,
         |  CASE WHEN b.reach_e6 = 0 THEN 0
         |       ELSE ((b.reach_e6 - x.reach_e6) * 1000) // b.reach_e6 END
         |    AS removal_effect_pm
         |FROM reachb b CROSS JOIN reach_$c x""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS prev, ts, event_id,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS next
       |  FROM events),
       |t AS (SELECT prev, next, count(*) AS cnt FROM seq
       |      WHERE next IS NOT NULL AND prev <> 'purchase' GROUP BY 1, 2),
       |m AS (SELECT prev, next,
       |        (cnt * 1000000) // sum(cnt) OVER (PARTITION BY prev) AS p_e6
       |      FROM t),
       |q0 AS (SELECT prev, next, p_e6 FROM m WHERE next <> 'purchase'),
       |r0 AS (SELECT prev, p_e6 AS r_e6 FROM m WHERE next = 'purchase'),
       |starts AS (
       |  SELECT event_type AS state, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT event_type, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id) AS rn
       |    FROM events) WHERE rn = 1 GROUP BY 1),
       |$scen
       |SELECT * FROM ($out) ORDER BY channel""".stripMargin
  }
}
