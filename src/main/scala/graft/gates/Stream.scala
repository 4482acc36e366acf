package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.Streaming

import Fixtures._

/** Structured Streaming gates over the events and documents tables:
  * windows, state, dedup, joins, the ingest pipelines, takedown and
  * corpus erasure (OPERATORS.md §2.10). */
object StreamGates extends Family {

  /** Shared by q_stream_neardedup and q_stream_neardedup_serve: the
    * batch anti-join formulation of "stream docs (doc_id%3==0) with no
    * corpus (doc_id%3!=0) neighbor at 3-gram Jaccard ≥ 0.5". */
  private val streamNearDedupSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM docs
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT s.doc_id AS sid, c.doc_id AS cid, count(*) AS i
      |  FROM sh s JOIN sh c ON s.shingle = c.shingle
      |  WHERE s.doc_id % 3 = 0 AND c.doc_id % 3 <> 0
      |  GROUP BY 1, 2
      |), flagged AS (
      |  SELECT DISTINCT sid FROM inter
      |  JOIN sizes ss ON ss.doc_id = sid
      |  JOIN sizes sc ON sc.doc_id = cid
      |  WHERE CAST(i AS DOUBLE) / CAST(ss.n_sh + sc.n_sh - i AS DOUBLE) >= 0.5
      |)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT sid FROM flagged)
      |ORDER BY doc_id""".stripMargin

  /** q_stream_neardedup_delete's oracle: the same anti-join with the
    * corpus side REDUCED to the undeleted documents (doc_id % 7 <> 3) —
    * a stream doc whose only neighbor was deleted must now survive. */
  private val streamNearDedupDeleteSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM docs
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT s.doc_id AS sid, c.doc_id AS cid, count(*) AS i
      |  FROM sh s JOIN sh c ON s.shingle = c.shingle
      |  WHERE s.doc_id % 3 = 0 AND c.doc_id % 3 <> 0 AND c.doc_id % 7 <> 3
      |  GROUP BY 1, 2
      |), flagged AS (
      |  SELECT DISTINCT sid FROM inter
      |  JOIN sizes ss ON ss.doc_id = sid
      |  JOIN sizes sc ON sc.doc_id = cid
      |  WHERE CAST(i AS DOUBLE) / CAST(ss.n_sh + sc.n_sh - i AS DOUBLE) >= 0.5
      |)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT sid FROM flagged)
      |ORDER BY doc_id""".stripMargin

  /** Real streaming query: readStream → watermark → tumbling window →
    * memory sink run to completion; oracle is the batch equivalent. */
  gate("q_stream_tumbling", StreamingSpecs,
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n, round(sum(value),2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
    val agg = Streaming.tumblingCounts(Streaming.eventsStream(s, dir), "1 hour")
    Streaming.runToBatch(agg, "stream_tumbling_out")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Streaming approximate distinct (HLL++) per (hour, event_type): the
    * sketch whose point IS streaming — exact count_distinct is an
    * unsupported streaming plan (unbounded per-group value-set state),
    * while HLL state is KB registers. ACCURACY GATE in the
    * q_approx_distinct mold: the streamed estimate rides next to the
    * batch-exact per-window distinct, rows emit only within tolerance —
    * 15% relative error with a ±3 absolute floor for handful-sized
    * windows (HLL++'s small-range bias correction can wobble a count or
    * two; measured across all 3 SFs, daily/rsd=0.02 worst-case is 4.1%
    * relative / abs 2 at the small end, a 3.7× margin) — and the oracle
    * is the unconditional exact, so a violation breaks the hash match.
    * HLL++ is hash-deterministic: the streamed estimate equals what the
    * batch plan computes, independent of arrival order. */
  // unconditional exact per-window distincts: the streamed HLL
  // estimate only lets a row through when it is within tolerance
  gate("q_stream_approx_distinct",
    // memory-sink scan + batch exact count_distinct (2: partial/final)
    // + the join/orderBy share — the streamed agg ran before the plan
    Budget(3),
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  event_type, count(DISTINCT user_id) AS n_exact
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, dir) =>
    // DAILY windows at rsd=0.02 — both knobs measured, not guessed:
    // rsd sizes the per-group buffer (0.01 ⇒ ~22 KB, and the streaming
    // run reads 2.7–3.5 s; 0.02/0.05 ⇒ ~1.1 s, at plain-count cost),
    // and the window sizes the group count (hourly = 3600 groups
    // through the state store, daily = ~120) while pushing every
    // window's count up into the safe relative-tolerance regime.
    val agg = Streaming.approxDistinctStream(Streaming.eventsStream(s, dir),
      itemCol = "user_id", groupCols = Seq("event_type"),
      window = "1 day", delay = "1 hour", rsd = 0.02)
    val streamed = Streaming.runToBatch(agg, "stream_apxnd_out")
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("approx_nd"))
    val exact = events(s, dir).df
      .groupBy(date_format(date_trunc("day", col("ts")),
          "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    val absDiff = abs(col("approx_nd") - col("n_exact")).cast("double")
    streamed.join(exact, Seq("day", "event_type"))
      .filter(absDiff <= lit(0.15) * col("n_exact") || absDiff <= lit(3.0))
      .select(col("day"), col("event_type"), col("n_exact"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Streaming per-window QUANTILES via KLL sketches (daily p50/p90 of
    * the event value per type): the stream emits SKETCHES — any
    * quantile extracts downstream, and windows/keys stay mergeable —
    * while exact streaming percentiles would hold every value in state.
    * RANK GATE in the q_quantile_rollup mold: for each (day, type) the
    * rank error of the served p50/p90 — |count(value ≤ q̂) − q·n| —
    * must be ≤ max(0.05·n, 1) AND the sketch's row count must equal
    * the batch count; rows failing either drop and break the hash match
    * vs the unconditional exact per-(day, type) row-count oracle. The
    * one-rank absolute floor is integer granularity, not slack: a
    * 5-row window's achievable p90 ranks are 4/5 and 5/5, both ≥ 0.1
    * from 0.9 — no estimator can beat the nearest attainable rank. */
  // unconditional exact per-(day, type) row counts: the streamed KLL
  // p50/p90's true ranks must sit within 0.05·n of target and the
  // sketch row counts must equal the batch counts, or rows drop
  gate("q_stream_quantiles",
    // events-side rank-check aggregate + the orderBy exchange; the
    // streamed sketch table broadcasts into the corpus-side join
    Budget(2),
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  event_type, count("value") AS n_rows
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, dir) =>
    val agg = Streaming.quantilesStream(Streaming.eventsStream(s, dir),
      valueCol = "value", groupCols = Seq("event_type"), window = "1 day")
    val streamed = Streaming.runToBatch(agg, "stream_kll_out")
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        // empty-sketch guard (all-NULL value window): getQuantile throws
        // on an empty sketch; serve NULL instead (same discipline as
        // Sketch.rollupQuantiles)
        when(col("n_rows") > 0,
          kll_sketch_get_quantile_double(col("qsketch"), lit(0.5)))
          .otherwise(lit(null)).as("__q50"),
        when(col("n_rows") > 0,
          kll_sketch_get_quantile_double(col("qsketch"), lit(0.9)))
          .otherwise(lit(null)).as("__q90"),
        col("n_rows"))
    val data = events(s, dir).df
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
    kllRankGate(data, col("value"), streamed, Seq("day", "event_type"))
  }

  /** Sliding windows (2h size / 1h slide) under streaming — each event
    * contributes to two windows. */
  gate("q_stream_sliding", StreamingSpecs,
    """WITH assigned AS (
      |  SELECT date_trunc('hour', ts) AS w_start, event_type, value FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events)
      |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
      |  event_type, count(*) AS n, round(sum(value),2) AS sum_value
      |FROM assigned GROUP BY w_start, event_type
      |ORDER BY w_start, event_type""".stripMargin) { (s, dir) =>
    val agg = Streaming.slidingCounts(Streaming.eventsStream(s, dir), "2 hours", "1 hour")
    Streaming.runToBatch(agg, "stream_sliding_out")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Custom keyed streaming state (flatMapGroupsWithState): per-user
    * running totals; the single-source-batch final answer equals the
    * batch groupBy, giving a DuckDB oracle for the stateful path. */
  gate("q_stream_stateful", StreamingSpecs,
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(value),2) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.streaming.UserEvent
    val ev = Streaming.eventsStream(s, dir)
      .select(col("user_id"), col("value")).as[UserEvent]
    Streaming.runToBatch(Streaming.runningUserTotals(ev).toDF(), "stream_stateful_out",
        mode = "update")
      // The memory sink append-logs update-mode emissions, so a key that
      // appears in several micro-batches leaves one row per batch; keep the
      // LAST emission per key (totals are monotone in n_events).
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("sum_value"), col("n_events")).as("sum_value"))
      .select(col("user_id"), col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Streaming exact dedup (dropDuplicatesWithinWatermark): first
    * arrival per (user_id, event_type) survives; output restricted to
    * the key columns so the kept-row choice within a batch cannot leak
    * nondeterminism. Oracle: batch DISTINCT. */
  gate("q_stream_dedup", StreamingSpecs,
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val deduped = Streaming.dedupStream(Streaming.eventsStream(s, dir),
      Seq("user_id", "event_type"), "ts", "1 hour")
      .select(col("user_id"), col("event_type"))
    Streaming.runToBatch(deduped, "stream_dedup_out", mode = "append")
      .distinct() // state re-init across runs could re-emit; distinct is the contract
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Stream-static enrichment join: the events stream decorated with
    * customer dimension attributes via a per-micro-batch broadcast join
    * (no stream-side shuffle, no state store), then aggregated per
    * (market segment, event type). Oracle: the batch join + groupBy. */
  gate("q_stream_enrich", Budget(1),
    """SELECT c_mktsegment, event_type, count(*) AS n,
      |  round(sum(value), 2) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val enriched = Streaming.enrichWithStatic(
      Streaming.eventsStream(s, dir), t(s, dir, "customer").df,
      joinKeys = Seq("user_id" -> "c_custkey"),
      dimCols = Seq("c_mktsegment"),
      // inner to match the oracle's INNER JOIN by construction — the
      // default left would differ if an event user_id ever lacked a
      // customer row (full key coverage in the test data hides that)
      joinType = "inner")
    val agg = enriched.groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    Streaming.runToBatch(agg, "stream_enrich_out")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** END-TO-END streaming funnel in ONE query — the streaming analogue
    * of q_pipeline_e2e: watermarked in-stream dedup (one arrival per
    * (user, event_type, hour)) → stream-static broadcast enrichment →
    * tumbling per-(window, segment) counts; two CHAINED stateful
    * operators in append mode with a watermark flush. Emits exactly the
    * windows whose end ≤ final watermark (max ts − 1 h); the oracle
    * applies the same cut. Dedup keys include the event-time hour so
    * the surviving row's window is deterministic (see
    * [[graft.streaming.Streaming.funnelCounts]]). */
  // the funnel's append-mode cut: only windows whose end has passed
  // the final watermark (max ts - 1 h) are emitted by the stream
  gate("q_stream_funnel", StreamingSpecs,
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |d AS (SELECT DISTINCT user_id, event_type,
      |        date_trunc('hour', ts) AS h FROM events)
      |SELECT strftime(d.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  c.c_mktsegment, CAST(count(*) AS BIGINT) AS n
      |FROM d JOIN customer c ON d.user_id = c.c_custkey CROSS JOIN m
      |WHERE d.h + INTERVAL 1 HOUR <= m.mx - INTERVAL 1 HOUR
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val agg = Streaming.funnelCounts(Streaming.eventsStream(s, dir),
      t(s, dir, "customer").df, joinKeys = Seq("user_id" -> "c_custkey"),
      segmentCol = "c_mktsegment")
    Streaming.runToBatch(agg, "stream_funnel_out", mode = "append",
        watermarkFlush = true)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("c_mktsegment"), col("n"))
      .distinct() // state re-init across runs could re-emit (q_stream_dedup contract)
      .orderBy(col("hour"), col("c_mktsegment"))
  }

  /** COMPOSED STREAMING INGEST gate — the END-TO-END live pipeline,
    * wiring four individually-gated pieces into ONE streaming query
    * whose chained watermark/state/filter interactions are exactly where
    * silent drops hide: partition-pruned subtree source
    * ([[graft.streaming.Streaming.partitionSubtreeStream]], only the
    * subscribed `source=src3` subtree of the 20-source layout is ever
    * listed) → watermarked digest dedup within the stream AND against
    * yesterday's corpus ([[graft.streaming.Streaming.dedupStreamAgainst]])
    * → codegen'd quality + encoding curation → idempotent per-batch
    * segment sink. Planted fixtures make every stage non-vacuous at
    * every SF: doc_id % 13 → a degenerate low-quality text (quality
    * filter), % 11 → a stray control char (encoding scan), % 3 → a
    * 90-minutes-later re-emission in the subscribed source (in-stream
    * dedup state; src3 doc_ids are ≡ 3 mod 20, so a %5 fixture would
    * never fire there), % 7 → already in the corpus (anti-join). Output is
    * SURVIVOR-INVARIANT by construction — raw-byte digests mean every
    * kept row's text is byte-identical to its dropped duplicates', so
    * (fp, n_tokens, quality) cannot depend on which arrival the dedup
    * state kept or on micro-batch boundaries. Oracle: the equivalent
    * batch funnel (dedup = GROUP BY digest under the full-horizon
    * watermark cut, then the same corpus anti-join and curation
    * predicates). Multi-batch equivalence is pinned in StreamingSpec. */
  // the batch-funnel mirror of the composed streaming ingest: the same
  // fixture CASE (13 before 11 — precedence matters), the same feed
  // (subscribed source + its %3 re-emissions), dedup = GROUP BY raw
  // md5 digest (the full-horizon watermark admits every duplicate
  // pair), corpus anti-join on the digest, then the q_quality_score
  // quality formula and the q_encoding_scan hygiene predicate
  gate("q_stream_ingest_e2e",
    // the returned frame is the segment read-back + survivor-invariant
    // projection + ORDER BY (1 range exchange); the streaming pipeline
    // itself ran to completion in its own query, audited by StreamingSpec
    Budget(1),
    s"""WITH fixed AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 13 = 0 THEN trim(repeat('zzzzzzzzzzzzzz ', 20))
      |         WHEN doc_id % 11 = 0 THEN text || chr(7)
      |         ELSE text END AS text
      |  FROM documents
      |), feed AS (
      |  SELECT text FROM fixed WHERE source = 'src3'
      |  UNION ALL
      |  SELECT text FROM fixed WHERE source = 'src3' AND doc_id % 3 = 0
      |), dedup AS (
      |  SELECT md5(text) AS fp, min(text) AS text FROM feed GROUP BY md5(text)
      |), corpus AS (
      |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 7 = 0
      |), fresh AS (
      |  SELECT d.fp, d.text FROM dedup d
      |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = d.fp)
      |), q AS (
      |  SELECT fp, text, string_split_regex(trim(text),'\\s+') AS ws,
      |    length(text) AS n_chars_c
      |  FROM fresh
      |), r AS (
      |  SELECT fp, text, n_chars_c, CAST(len(ws) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(ws, x -> x='the')) + len(list_filter(ws, x -> x='a'))
      |       + len(list_filter(ws, x -> x='of')) + len(list_filter(ws, x -> x='and'))
      |       + len(list_filter(ws, x -> x='to')) AS DOUBLE)
      |      / CAST(greatest(len(ws), 1) AS DOUBLE) AS stopword_ratio,
      |    CAST(length(regexp_replace(text,'\\s+','','g')) AS DOUBLE)
      |      / CAST(greatest(len(ws), 1) AS DOUBLE) AS mean_word_len
      |  FROM q
      |), sc AS (
      |  SELECT fp, text, n_tokens,
      |    ((CASE WHEN n_chars_c BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
      |   + (CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.5 THEN 1.0 ELSE 0.0 END)
      |   + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0
      |      AS quality
      |  FROM r
      |)
      |SELECT fp, n_tokens, quality FROM sc
      |WHERE quality > 0.5
      |  AND len(regexp_extract_all(text, '${graft.operators.Scrub.mojibake}'))
      |    + len(regexp_extract_all(text, '${graft.operators.Scrub.controlChars}'))
      |    + len(regexp_extract_all(text, '${graft.operators.Scrub.specialTokens}')) = 0
      |ORDER BY fp""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val docs = t(s, dir, "documents").df
    val degenerate = Seq.fill(20)("zzzzzzzzzzzzzz").mkString(" ")
    val fixed = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 13 === 0, lit(degenerate))
        .when(col("doc_id") % 11 === 0, concat(col("text"), lit("\u0007")))
        .otherwise(col("text")).as("text"))
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    def at(minutes: org.apache.spark.sql.Column) =
      t0 + make_dt_interval(lit(0), lit(0), minutes.cast("int"), lit(0.0))
    val base = fixed.select(col("doc_id"), col("text"), col("source"),
      at(col("doc_id")).as("ts"))
    val reemit = fixed.filter(col("source") === "src3" && col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
        col("source"), at(col("doc_id") + 90).as("ts"))
    val table = artifactTable(s, "ingest_feed", dir, "documents")
    Layout.partitionedTableFor(base.unionByName(reemit), table, Seq("source"))
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    val out = s"${ioDir(dir)}/ingest_e2e"
    val hp = new org.apache.hadoop.fs.Path(out)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val stream = Streaming.partitionSubtreeStream(
      s, Layout.tableLocation(s, table), "source=src3")
    val q = Streaming.ingestCurationSink(stream, corpus, "text", "ts", out,
      delay = "30 days")
    try q.processAllAvailable() finally q.stop()
    val back =
      if (fs.exists(hp)) s.read.parquet(out)
      else docs.limit(0).select(col("text"), lit(0L).as("n_tokens"),
        lit(0.0).as("quality"))
    back.select(
        graft.operators.Dedup.contentKey(col("text"), normalize = false).as("fp"),
        col("n_tokens"), col("quality"))
      .orderBy(col("fp"))
  }

  /** Streaming ingest BLOCKLIST gate — the do-not-ingest closure of the
    * takedown loop on the oracle path: after a takedown's physical
    * erasure the corpus digest set no longer contains the document, so
    * a RE-CRAWL of the same bytes would sail through
    * [[graft.streaming.Streaming.dedupStreamAgainst]]'s corpus
    * anti-join and re-admit exactly what was removed. The composed
    * curation pipeline runs with a content-digest blocklist (the
    * q_stream_ingest_e2e fixture, plus every src3 doc with
    * doc_id % 9 == 0 blocklisted by raw-byte digest): survivors must
    * equal the funnel's DuckDB oracle MINUS the blocklisted content —
    * keyed on bytes, not ids, because a re-crawl arrives under a fresh
    * id. The blocklist side is re-resolved per micro-batch, so digests
    * appended mid-stream suppress from the next trigger. */
  // the e2e funnel with a content-digest blocklist: survivors
  // additionally exclude any text whose digest matches a blocklisted
  // src3 doc (doc_id % 9 = 0) — suppression keys on bytes, not ids
  gate("q_stream_ingest_blocklist",
    // shuffle budget: see q_stream_ingest_e2e
    Budget(1),
    s"""WITH fixed AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 13 = 0 THEN trim(repeat('zzzzzzzzzzzzzz ', 20))
      |         WHEN doc_id % 11 = 0 THEN text || chr(7)
      |         ELSE text END AS text
      |  FROM documents
      |), feed AS (
      |  SELECT text FROM fixed WHERE source = 'src3'
      |  UNION ALL
      |  SELECT text FROM fixed WHERE source = 'src3' AND doc_id % 3 = 0
      |), blocked AS (
      |  SELECT DISTINCT md5(text) AS fp FROM fixed
      |  WHERE source = 'src3' AND doc_id % 9 = 0
      |), dedup AS (
      |  SELECT md5(text) AS fp, min(text) AS text FROM feed GROUP BY md5(text)
      |), corpus AS (
      |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 7 = 0
      |), fresh AS (
      |  SELECT d.fp, d.text FROM dedup d
      |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = d.fp)
      |    AND NOT EXISTS (SELECT 1 FROM blocked b WHERE b.fp = d.fp)
      |), q AS (
      |  SELECT fp, text, string_split_regex(trim(text),'\\s+') AS ws,
      |    length(text) AS n_chars_c
      |  FROM fresh
      |), r AS (
      |  SELECT fp, text, n_chars_c, CAST(len(ws) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(ws, x -> x='the')) + len(list_filter(ws, x -> x='a'))
      |       + len(list_filter(ws, x -> x='of')) + len(list_filter(ws, x -> x='and'))
      |       + len(list_filter(ws, x -> x='to')) AS DOUBLE)
      |      / CAST(greatest(len(ws), 1) AS DOUBLE) AS stopword_ratio,
      |    CAST(length(regexp_replace(text,'\\s+','','g')) AS DOUBLE)
      |      / CAST(greatest(len(ws), 1) AS DOUBLE) AS mean_word_len
      |  FROM q
      |), sc AS (
      |  SELECT fp, text, n_tokens,
      |    ((CASE WHEN n_chars_c BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
      |   + (CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.5 THEN 1.0 ELSE 0.0 END)
      |   + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0
      |      AS quality
      |  FROM r
      |)
      |SELECT fp, n_tokens, quality FROM sc
      |WHERE quality > 0.5
      |  AND len(regexp_extract_all(text, '${graft.operators.Scrub.mojibake}'))
      |    + len(regexp_extract_all(text, '${graft.operators.Scrub.controlChars}'))
      |    + len(regexp_extract_all(text, '${graft.operators.Scrub.specialTokens}')) = 0
      |ORDER BY fp""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val docs = t(s, dir, "documents").df
    val degenerate = Seq.fill(20)("zzzzzzzzzzzzzz").mkString(" ")
    val fixed = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 13 === 0, lit(degenerate))
        .when(col("doc_id") % 11 === 0, concat(col("text"), lit("\u0007")))
        .otherwise(col("text")).as("text"))
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    def at(minutes: org.apache.spark.sql.Column) =
      t0 + make_dt_interval(lit(0), lit(0), minutes.cast("int"), lit(0.0))
    val base = fixed.select(col("doc_id"), col("text"), col("source"),
      at(col("doc_id")).as("ts"))
    val reemit = fixed.filter(col("source") === "src3" && col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
        col("source"), at(col("doc_id") + 90).as("ts"))
    val table = artifactTable(s, "ingest_feed", dir, "documents")
    Layout.partitionedTableFor(base.unionByName(reemit), table, Seq("source"))
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    // the takedown's retained digests: content identity, never the text
    val blocklist = fixed
      .filter(col("source") === "src3" && col("doc_id") % 9 === 0)
      .select(graft.operators.Dedup.contentKey(col("text"),
        normalize = false).as("fp")).distinct()
    val out = s"${ioDir(dir)}/ingest_blocklist"
    val hp = new org.apache.hadoop.fs.Path(out)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val stream = Streaming.partitionSubtreeStream(
      s, Layout.tableLocation(s, table), "source=src3")
    val q = Streaming.ingestCurationSink(stream, corpus, "text", "ts", out,
      delay = "30 days", blocklist = Some(blocklist))
    try q.processAllAvailable() finally q.stop()
    val back =
      if (fs.exists(hp)) s.read.parquet(out)
      else docs.limit(0).select(col("text"), lit(0L).as("n_tokens"),
        lit(0.0).as("quality"))
    back.select(
        graft.operators.Dedup.contentKey(col("text"), normalize = false).as("fp"),
        col("n_tokens"), col("quality"))
      .orderBy(col("fp"))
  }

  /** TAKEDOWN lifecycle END-TO-END gate — the compliance composition a
    * real operator audits, wired as ONE oracle-checked pipeline (the
    * q_pipeline_e2e / q_stream_ingest_e2e argument: the pieces are
    * individually gated; the composition is where sequencing bugs
    * hide):
    *  1. the BM25 serving artifact exists over the full corpus;
    *  2. TAKEDOWN — every doc_id % 9 == 3 is tombstoned
    *     ([[graft.operators.Search.deleteBm25Docs]]; masking is
    *     immediate) and its content DIGEST goes on the do-not-ingest
    *     blocklist (content identity, never ids — a re-crawl arrives
    *     under a fresh id);
    *  3. RE-CRAWL — the removed bytes return under fresh ids through
    *     the streaming curation pipeline, beside a control slice of
    *     genuinely-new bytes: the blocklist must suppress every removed
    *     byte stream while the control slice is admitted (an in-plan
    *     one-row gate — zero blocked digests among the admitted rows
    *     AND a non-empty admitted set);
    *  4. RECLAIM — the compaction cadence physically erases the
    *     tombstoned rows: the served generation's raw parquet carries
    *     ZERO deleted ids (in-plan gate over the actual files) and the
    *     tombstone sibling is gone (the mask left the plan).
    * The final frame is the served top-25 over the reduced corpus — the
    * DuckDB BM25-without-them oracle, rank-sensitive to every constant
    * correction — with the suppression/erasure gates folded in as
    * row-dropping filters, so ANY violated step is a hash mismatch.
    * Build/delete/reclaim run once per mtime-keyed generation; the
    * re-crawl streams on every invocation (suppression must HOLD, not
    * just have held once). */
  // the e2e composition's survivors: the % 9 == 3 takedown set gone,
  // constants corrected, erasure + suppression gates folded in-plan
  gate("q_takedown_e2e",
    // the e2e composition: the post-reclaim mask-free serve (0) + the
    // admitted-segment suppression aggregate + the raw-file erasure
    // aggregate (partial/final); both gate joins are one-row broadcasts,
    // and the output ORDER BY of one-row joins over the one-partition
    // serve needs no exchange (5 → 3, plans/r19/q_takedown_e2e_*)
    Budget(3,
      bnlj = Some("suppression + erasure gates: each build side is exactly ONE broadcast row (the admitted-blocked count and the raw-file dead-id count)")),
    bm25WithoutOracleSql("doc_id % 9 <> 3")) { (s, dir) =>
    import graft.operators.{Dedup, Search}
    val docs = t(s, dir, "documents").df
    val dead = docs.filter(col("doc_id") % 9 === 3)
    val live = docs.filter(col("doc_id") % 9 =!= 3)
    val table = artifactTable(s, "takedown_e2e", dir, "documents")
    onceUpserted(s, table) {
      Search.saveBm25Index(
        Search.buildBm25Index(docs, "doc_id", "text"), table)
      Search.deleteBm25Docs(s, table, dead.select(col("doc_id")))
      Search.compactBm25Index(s, table)
    }
    // the takedown's retained blocklist: digests of the removed bytes
    val blockDigests = dead.select(Dedup.contentKey(col("text"),
      normalize = false).as("fp")).distinct()
    // the re-crawl: removed bytes under fresh ids (must be suppressed)
    // + a control slice of new bytes (must be admitted — proves the
    // pipeline isn't vacuously dropping everything)
    val out = s"${ioDir(dir)}/takedown_e2e"
    val hp = new org.apache.hadoop.fs.Path(out)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val recrawl = Streaming.documentsStream(s, dir)
      .filter(col("doc_id") % 9 === 3 || col("doc_id") % 9 === 4)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        when(col("doc_id") % 9 === 4, concat(col("text"), lit(" recrawl")))
          .otherwise(col("text")).as("text"),
        to_timestamp(lit("2024-03-01 00:00:00")).as("ts"))
    val q = Streaming.ingestCurationSink(recrawl, live, "text", "ts", out,
      delay = "30 days", blocklist = Some(blockDigests))
    try q.processAllAvailable() finally q.stop()
    val admitted =
      (if (fs.exists(hp)) s.read.parquet(out)
       else docs.limit(0).select(col("text")))
        .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
    // gate A: continued suppression — no admitted row carries a
    // blocked digest — and non-vacuousness (the control slice landed)
    val suppressed = admitted
      .join(broadcast(blockDigests.withColumn("__b", lit(1))), Seq("fp"), "left")
      .agg((sum(coalesce(col("__b"), lit(0))) === 0 &&
        count(lit(1)) > 0).as("__ok"))
    // gate B: physical erasure — the served generation's RAW files
    // (not the masked view) carry zero deleted ids
    val erased = s.read
      .parquet(graft.sources.Sources.tableDataFiles(s, table): _*)
      .agg((sum(when(col("doc_id") % 9 === 3, 1).otherwise(0)) === 0)
        .as("__er"))
    // gate C: the reclaim consumed every tombstone — the sibling is
    // gone and the serve plan is mask-free again
    val tombGone = !s.catalog.tableExists(s"${table}_deleted")
    val idx = Search.loadBm25Index(s, table)
    Search.searchBm25(live, idx, "doc_id", "hash join filter", k = 25)
      .select(col("doc_id"), col("bm25_rank"))
      .crossJoin(broadcast(suppressed)).filter(col("__ok"))
      .crossJoin(broadcast(erased)).filter(col("__er"))
      .filter(lit(tombGone))
      .select(col("doc_id"), col("bm25_rank"))
      .orderBy(col("bm25_rank"))
  }

  /** CORPUS-side takedown gate — the source-of-truth half of the
    * compliance story ([[graft.operators.Layout.erasePartitionedRows]]):
    * a serving artifact can mask and reclaim on its cadence, but the
    * partitioned corpus table the pipeline re-derives everything from
    * must ALSO stop containing the bytes, and at 100 TB the answer is
    * "rewrite the 2 of 20 source partitions the request touches", never
    * the corpus. Docs from src3/src7 with doc_id % 7 == 3 are erased;
    * the served per-source report must equal DuckDB over the reduced
    * corpus, with an in-plan one-row gate asserting the affected
    * partitions' RAW files carry none of the doomed ids (physical
    * erasure, not filtering). Untouched-partition file preservation —
    * the partition-pruning claim — is pinned byte-level in LayoutSpec.
    * Build + erase run once per mtime-keyed generation. */
  // the corpus-side erasure: per-source report over the reduced
  // corpus (CAST: DuckDB sum(INTEGER) is HUGEINT)
  gate("q_corpus_erase",
    // corpus erasure: per-source agg (partial/final) over the served
    // table + the raw-file erasure aggregate's single-partition leg +
    // output ORDER BY folded into the final exchange
    Budget(3,
      bnlj = Some("erasure gate: build side is exactly ONE broadcast row (the affected partitions' raw-file doomed-id count)")),
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE NOT (source IN ('src3','src7') AND doc_id % 7 = 3)
      |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Layout
    val docs = t(s, dir, "documents").df
    val table = artifactTable(s, "corpus_erase", dir, "documents")
    onceUpserted(s, table) {
      Layout.partitionedTableFor(
        docs.select(col("doc_id"), col("text"), col("lang"),
          col("n_chars"), col("source")), table, "source")
      Layout.erasePartitionedRows(s, table,
        docs.filter(col("source").isin("src3", "src7") &&
          col("doc_id") % 7 === 3).select(col("doc_id")))
    }
    // affected partitions' raw files resolved through the CATALOG (the
    // erase's own basis discipline), never a constructed loc/source=v
    // path that a relocated partition would silently turn into an
    // empty (vacuously-passing) read
    val affectedFiles = graft.sources.Sources.partitionDataFiles(s, table,
      spec => spec.get("source").exists(Set("src3", "src7")))
    val erased = s.read
      .parquet(affectedFiles: _*)
      .agg((sum(when(col("doc_id") % 7 === 3, 1).otherwise(0)) === 0 &&
        count(lit(1)) > 0)
        .as("__er"))
    s.table(table).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .crossJoin(broadcast(erased)).filter(col("__er"))
      .select(col("source"), col("n_docs"), col("sum_chars"))
      .orderBy(col("source"))
  }

  /** CORPUS-erase END-TO-END composition gate — the two compliance
    * halves composed on the oracle path, closing the re-admission
    * vector the erase scaladoc warns about: a rebuild FROM the corpus
    * is exactly how erased bytes would come back if the corpus had
    * been masked instead of physically rewritten. The takedown set is
    * erased from the PARTITIONED source-of-truth corpus
    * ([[graft.operators.Layout.erasePartitionedRows]]), then a serving
    * artifact (BM25) is REBUILT FROM THE ERASED CORPUS — the
    * derivation path every downstream artifact runs after an erase —
    * and must serve the reduced-corpus oracle ranking exactly. In-plan
    * row-dropping gates: (A) the affected partitions' raw corpus files
    * carry zero doomed ids (erasure was physical, not a view filter);
    * (B) the rebuilt index's raw postings files carry zero doomed ids
    * (the rebuild cannot re-admit what the corpus no longer contains);
    * (C) a blocklisted re-crawl of the removed bytes under fresh ids
    * is suppressed while a control slice of new bytes admits (the
    * retained-digest blocklist guards the FUTURE ingest edge,
    * non-vacuously). Build + erase + rebuild run once per mtime-keyed
    * generation. */
  // the e2e composition: the same reduced corpus, served through a
  // BM25 index REBUILT from the erased partitioned table
  gate("q_corpus_erase_e2e",
    // the corpus-erase e2e composition: the three one-row gate
    // aggregates' single-partition legs (corpus-file erasure, index-file
    // erasure, suppression) + the fingerprint-keyed aggregate leg; the
    // rebuilt-index BM25 serve coalesces its fetch (the partitioned
    // corpus table is analyzed at build, so it fits one split) and the
    // output ORDER BY sorts within the serve's one partition (6 → 5,
    // plans/r19/q_corpus_erase_e2e_*; 5 → 4, plans/r20/q_corpus_erase_e2e_*)
    Budget(4,
      bnlj = Some("erasure + suppression gates: each build side is exactly ONE broadcast row (corpus-file doomed-id count, index-file doomed-id count, admitted-blocked count)")),
    bm25WithoutOracleSql(
      "NOT (source IN ('src3','src7') AND doc_id % 7 = 3)")) { (s, dir) =>
    import graft.operators.{Dedup, Layout, Search}
    val docs = t(s, dir, "documents").df
    val doomedPred =
      col("source").isin("src3", "src7") && col("doc_id") % 7 === 3
    val corpus = artifactTable(s, "corpus_erase_e2e", dir, "documents")
    val index = s"${corpus}_bm"
    onceUpserted(s, corpus) {
      Layout.partitionedTableFor(
        docs.select(col("doc_id"), col("text"), col("source")),
        corpus, "source")
      Layout.erasePartitionedRows(s, corpus,
        docs.filter(doomedPred).select(col("doc_id")))
      Search.saveBm25Index(
        Search.buildBm25Index(s.table(corpus), "doc_id", "text"), index)
    }
    val doomedIds = docs.filter(doomedPred).select(col("doc_id"))
    // gate A: physical erasure in the affected partitions' raw files —
    // resolved through the catalog's partition locations (gate B's
    // discipline, and the erase's own), not constructed paths
    val corpusErased = s.read
      .parquet(graft.sources.Sources.partitionDataFiles(s, corpus,
        spec => spec.get("source").exists(Set("src3", "src7"))): _*)
      .join(broadcast(doomedIds), Seq("doc_id"), "left_semi")
      .agg((count(lit(1)) === 0).as("__ca"))
    // gate B: the artifact REBUILT from the erased corpus never
    // contained the ids — its raw postings files are checked, not a view
    val indexErased = s.read
      .parquet(graft.sources.Sources.tableDataFiles(s, index): _*)
      .join(broadcast(doomedIds), Seq("doc_id"), "left_semi")
      .agg((count(lit(1)) === 0).as("__cb"))
    // gate C: the retained blocklist suppresses a re-crawl of the
    // removed bytes under fresh ids; a control slice of NEW bytes
    // admits (proves the pipeline isn't vacuously dropping everything)
    val blockDigests = docs.filter(doomedPred)
      .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
      .distinct()
    val out = s"${ioDir(dir)}/corpus_erase_e2e"
    val hp = new org.apache.hadoop.fs.Path(out)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val live = docs.filter(!doomedPred)
    val recrawl = Streaming.documentsStream(s, dir)
      .filter(col("doc_id") % 7 === 3 &&
        col("source").isin("src3", "src5", "src7"))
      .select((col("doc_id") + 40000000L).as("doc_id"),
        when(col("source") === "src5",
          concat(col("text"), lit(" recrawl")))
          .otherwise(col("text")).as("text"),
        to_timestamp(lit("2024-03-01 00:00:00")).as("ts"))
    val q = Streaming.ingestCurationSink(recrawl, live, "text", "ts", out,
      delay = "30 days", blocklist = Some(blockDigests))
    try q.processAllAvailable() finally q.stop()
    val admitted =
      (if (fs.exists(hp)) s.read.parquet(out)
       else docs.limit(0).select(col("text")))
        .select(Dedup.contentKey(col("text"), normalize = false).as("fp"))
    val suppressed = admitted
      .join(broadcast(blockDigests.withColumn("__b", lit(1))), Seq("fp"), "left")
      .agg((sum(coalesce(col("__b"), lit(0))) === 0 &&
        count(lit(1)) > 0).as("__cc"))
    // the served ranking comes from the index DERIVED FROM the erased
    // corpus — reduced-corpus exactness proves the whole composition
    val idx = Search.loadBm25Index(s, index)
    Search.searchBm25(s.table(corpus), idx, "doc_id", "hash join filter",
        k = 25)
      .select(col("doc_id"), col("bm25_rank"))
      .crossJoin(broadcast(corpusErased)).filter(col("__ca"))
      .crossJoin(broadcast(indexErased)).filter(col("__cb"))
      .crossJoin(broadcast(suppressed)).filter(col("__cc"))
      .select(col("doc_id"), col("bm25_rank"))
      .orderBy(col("bm25_rank"))
  }

  /** Streaming NEAR-duplicate ingest dedup against a static corpus: the
    * documents "crawl" stream (doc_id % 3 == 0) is deduped per
    * micro-batch against the fixed corpus (doc_id % 3 != 0) at 3-gram
    * Jaccard ≥ 0.5 — shared-shingle inverted-index join (complete
    * candidate generation), exact Jaccard verify, survivors landing as
    * idempotent per-batch parquet segments
    * ([[graft.streaming.Streaming.nearDedupAgainstSink]]). Oracle: the
    * batch anti-join formulation of the same exact-Jaccard predicate —
    * deterministic regardless of micro-batch boundaries because dedup is
    * against the FIXED corpus only (see the operator's determinism
    * contract). */
  /** Shared scaffolding for the two streaming near-dup gates: clear
    * stale segments (a rerun may produce fewer batches, and per-batch
    * overwrite only replaces its own id), run the sink query to
    * completion, read the segments back. Reads the sink ROOT
    * (batch=<id> resolves as a partition column, dropped by the select)
    * rather than a `batch=*` glob — the glob path trips FileStreamSink's
    * metadata probe into WARN-logging a spurious FileNotFoundException
    * stack trace on every run. An empty stream slice never creates the
    * sink dir; that reads back as the empty survivor set, not a
    * PATH_NOT_FOUND crash. */
  private def runNearDedupGate(s: SparkSession, dir: String, out: String)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(out)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val q = start
    try q.processAllAvailable() finally q.stop()
    val back =
      if (fs.exists(hp)) s.read.parquet(out)
      else t(s, dir, "documents").df.limit(0) // empty slice → empty set
    back.select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  gate("q_stream_neardedup",
    // the near-dedup gates RETURN a batch read of the segment sink (the
    // streaming work runs before the audited plan): scan → select →
    // global orderBy = the one range exchange
    Budget(1),
    streamNearDedupSql) { (s, dir) =>
    val docs = t(s, dir, "documents").df
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val stream = Streaming.documentsStream(s, dir)
      .filter(col("doc_id") % 3 === 0)
    val out = s"${ioDir(dir)}/stream_neardedup"
    runNearDedupGate(s, dir, out)(Streaming.nearDedupAgainstSink(stream,
      corpus, "doc_id", "text", out, n = 3, minJaccard = 0.5))
  }

  /** Streaming near-dup SERVING gate: identical semantics and oracle to
    * q_stream_neardedup, but each micro-batch joins the PERSISTED
    * shingle-bucketed corpus index
    * ([[graft.operators.Contamination.shingleIndexFor]], built at most
    * once per (session, corpus mtime)) instead of re-deriving the corpus
    * shingle explode inside every batch plan — the build/serve split a
    * live-crawl deployment runs, and the shape that survives a 100 TB
    * corpus (the index never moves; the micro-batch shuffles into its
    * bucket layout, or broadcasts). */
  // identical semantics — the serve gate only changes WHERE the corpus
  // shingle index comes from (persisted bucketed table vs in-plan)
  gate("q_stream_neardedup_serve",
    // shuffle budget: see q_stream_neardedup
    Budget(1),
    streamNearDedupSql) { (s, dir) =>
    import graft.operators.Contamination
    val docs = t(s, dir, "documents").df
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val (table, fp) = fingerprintedArtifact(s, "shingle_idx", dir, "documents")
    val idx = Contamination.shingleIndexFor(corpus, "doc_id", "text", table,
      n = 3, fingerprint = fp)
    val stream = Streaming.documentsStream(s, dir)
      .filter(col("doc_id") % 3 === 0)
    val out = s"${ioDir(dir)}/stream_neardedup_serve"
    runNearDedupGate(s, dir, out)(Streaming.nearDedupAgainstIndexSink(stream,
      idx, "doc_id", "text", out, n = 3, minJaccard = 0.5))
  }

  /** Streaming near-dup TAKEDOWN gate — the fifth serving family's
    * delete tier on the oracle path: the corpus shingle index is built,
    * then every corpus doc with doc_id % 7 == 3 is deleted
    * ([[graft.operators.Contamination.deleteDocs]] — one tombstone
    * commit, bucketed index files untouched), and the stream runs
    * against the MASKED index. Survivors must equal the DuckDB
    * anti-join against the corpus WITHOUT the deleted documents: a
    * stream doc whose only near-neighbor was a deleted corpus doc must
    * now be ADMITTED — a revoked document stops shaping admission
    * decisions the moment its delete commits (the near-dup analogue of
    * the ANN "geometry forgets" contract; physical erasure rides
    * [[graft.streaming.Streaming.compactNearDedupIndex]], pinned in
    * DeleteSpec). */
  gate("q_stream_neardedup_delete",
    // the audited batch plan is the segment read-back + output ORDER BY
    // (the masked-index join runs inside the streaming query, whose
    // per-batch shape q_stream_neardedup_serve's pin already covers)
    Budget(1),
    streamNearDedupDeleteSql) { (s, dir) =>
    import graft.operators.Contamination
    val docs = t(s, dir, "documents").df
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val table = artifactTable(s, "shingle_del", dir, "documents")
    // build-if-missing (the returned frame is re-loaded after the delete)
    Contamination.shingleIndexFor(corpus, "doc_id", "text", table, n = 3)
    Contamination.deleteDocs(s, table,
      corpus.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    // re-load AFTER the delete: the mask resolves at load time
    val masked = Contamination.shingleIndexFor(corpus, "doc_id", "text",
      table, n = 3)
    val stream = Streaming.documentsStream(s, dir)
      .filter(col("doc_id") % 3 === 0)
    val out = s"${ioDir(dir)}/stream_neardedup_delete"
    runNearDedupGate(s, dir, out)(Streaming.nearDedupAgainstIndexSink(stream,
      masked, "doc_id", "text", out, n = 3, minJaccard = 0.5))
  }

  /** Stream-stream interval join (click→purchase attribution): each
    * click pairs with the same user's purchases within 10 minutes after
    * it; both sides are watermarked streams, matches emit in append
    * mode, and the per-user attribution rollup runs as a batch aggregate
    * over the joined output. Oracle: the equivalent batch interval
    * self-join. */
  gate("q_stream_join", Budget(2),
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, count(*) AS n_pairs,
      |  round(sum(p.value), 2) AS sum_value
      |FROM c JOIN p ON p.user_id = c.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin) { (s, dir) =>
    val ev = Streaming.eventsStream(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val pairs = Streaming.intervalJoin(clicks, buys,
      keys = "c_user" -> "p_user", tsCols = "c_ts" -> "p_ts",
      lower = "0 seconds", upper = "10 minutes")
    Streaming.runToBatch(pairs, "stream_join_out", mode = "append")
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), round(sum(col("p_value")), 2).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Gap-based session windows per user (session_window operator). */
  gate("q_session_window", Budget(2),
    """WITH e AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              >= INTERVAL 10 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |), sessions AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events, round(sum(value),2) AS sum_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    Streaming.sessionWindows(events(s, dir).df, "10 minutes")
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }
}
