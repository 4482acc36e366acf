package graft.gates

import org.apache.spark.sql.functions._

import Fixtures._

/** BPE tokenizer gates: pair counts, training at shallow and deep merge
  * depth, encode, round trip and vocabulary, each against an
  * independent DuckDB mirror of the trainer. */
object BpeGates extends Family {

  /** First-iteration BPE merge statistics: top-25 adjacent character
    * pairs, counted over the vocab weighted by word frequency. */
  gate("q_bpe_pairs", Budget(3),
    """WITH t AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |), v AS (
      |  SELECT w, count(*) AS freq FROM t WHERE w <> '' GROUP BY w
      |), i AS (
      |  SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
      |  FROM v WHERE length(w) >= 2
      |)
      |SELECT substr(w, i, 1) AS lhs, substr(w, i + 1, 1) AS rhs,
      |  CAST(sum(freq) AS BIGINT) AS n_occurrences
      |FROM i GROUP BY 1, 2
      |ORDER BY n_occurrences DESC, lhs, rhs LIMIT 25""".stripMargin) { (s, dir) =>
    import graft.operators.Lexicon
    Lexicon.bpePairStats(t(s, dir, "documents").df, "text", k = 25)
      .orderBy(col("n_occurrences").desc, col("lhs"), col("rhs"))
  }

  /** Full BPE tokenizer training, 4 merge rounds: the learned merge
    * table (step, lhs, rhs, count-before-merge) bit-matched against a
    * generated DuckDB mirror that unrolls each round as
    * pair-count → top-1 → delimiter-replace CTEs. */
  gate("q_bpe_train",
    // the audited static plan is the tiny learned-merge-table localToDF
    // + output ORDER BY (1 visible exchange); the per-round vocab aggs
    // run inside bpeTrain's driver loop as separate bounded jobs
    Budget(1),
    bpeOracleSql(4)) { (s, dir) =>
    import graft.operators.Lexicon
    Lexicon.bpeTrain(t(s, dir, "documents").df, "text", merges = 4)
      .orderBy(col("step"))
  }

  /** BPE encode via the PERSISTED merge artifact (the train/serve split:
    * merges are learned and saved at most once per session per SF, the
    * serving path loads the KB-sized merge list and runs one codegen'd
    * map pass): per-doc raw and post-merge token counts — the
    * compression the tokenizer buys, and the counts a token-budget
    * planner uses. */
  gate("q_bpe_apply",
    // encode is ONE map-side nested-replace pass over documents; the 1
    // is the output ORDER BY (training jobs run in bpeTrain's driver
    // loop, as for q_bpe_train)
    Budget(1),
    bpeApplyOracleSql(4)) { (s, dir) =>
    import graft.operators.Lexicon
    val docs = t(s, dir, "documents").df
    val table = artifactTable(s, "bpe_merges", dir, "documents")
    val merges = Lexicon.bpeMergesFor(docs, "text", table, merges = 4)
    Lexicon.bpeApply(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
  }

  /** DEEP BPE training gate — drain-to-exhaustion: request 256 merges
    * over the documents corpus (the synthetic vocab drains far earlier —
    * every adjacent pair merged away), proving the trainer's round cost
    * is independent of merge depth (driver-local loop; the former
    * distributed shape paid 2 Spark jobs per merge and capped at 64).
    * Oracle: the same MATERIALIZED CTE chain at the full 256 rounds —
    * rounds after exhaustion contribute zero rows on both sides. */
  // oracle rounds == the Spark side's requested 256 — NOT a pad tuned
  // to the currently-observed ~89-merge drain, so a richer future
  // corpus can never out-run the oracle; post-drain rounds are
  // near-free on both engines (measured: 256 MATERIALIZED rounds
  // 18.1 s vs 120 rounds 17.1 s in DuckDB at sf0.01)
  gate("q_bpe_train_deep",
    // same audited shape as q_bpe_train: the merge table (89-ish rows
    // after the corpus drains) localToDF + output ORDER BY — merge
    // depth never changes the audited plan, which is the point
    Budget(1),
    bpeOracleSql(256)) { (s, dir) =>
    import graft.operators.Lexicon
    Lexicon.bpeTrain(t(s, dir, "documents").df, "text", merges = 256)
      .orderBy(col("step"))
  }

  /** BPE at TRUE VOCABULARY DEPTH, oracle-pinned — the round-10 close of
    * the one remaining depth gap: the corpus is widened IN-ENGINE by
    * `copies` word-suffixed copies (every word in copy k gets `qk`
    * appended — the [[graft.tools.BpeDepthProbe]] idiom: copies share
    * no words, so the sustainable merge count multiplies), and the
    * trainer runs 1100 rounds WITHOUT draining (round 1100 still merges
    * at frequency ~888 on the sf0.01 corpus). Every one of the 1100
    * (step, lhs, rhs, n) rows must bit-match the independent DuckDB
    * mirror — ending the question the ScalaTest-only 1500-merge
    * artifact left open (our own Sennrich mirror agreeing with our own
    * trainer). The widening is ONE scan + an explode, not `copies`
    * scans; the per-row regexp_replace appends the copy suffix to every
    * word. */
  /** q_bpe_train_vocab_depth's cap-guard distinct-word counts, keyed by
    * (sfDir, documents mtime) — plain longs, no session references. */
  private val bpeVocabGuardCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Long]

  gate("q_bpe_train_vocab_depth",
    // the 1100-row learned-merge table localToDF + output ORDER BY —
    // the 48-copy widening and the 1100 training rounds all run inside
    // bpeTrain's bounded driver-loop jobs, exactly as q_bpe_train_deep
    Budget(1),
    bpeDeepWideOracleSql(1100, 48)) { (s, dir) =>
    import graft.operators.Lexicon
    val copies = 48
    val docs = t(s, dir, "documents").df
    // The DuckDB oracle is UNCAPPED; the engine caps its vocab, so the
    // two only agree while the widened vocab fits under the cap. Guard
    // that explicitly: widened distinct words = base distinct × copies
    // EXACTLY (the appended suffix is 'q'+digits — a suffix mismatch in
    // length would need its longer form to start with two 'q's, which
    // 'q'+digits cannot, so no two (word, copy) pairs collide). A
    // scale-up that overflows the cap fails HERE with a clear message
    // instead of as a confusing downstream hash mismatch.
    val vocabCap = 1000000
    // cached per (dir, mtime): the guard protects against a NEW data
    // scale, so re-scanning the same static corpus on every bench
    // iteration of the heaviest tracked query buys nothing — a
    // regenerated corpus (fresh mtime) re-counts
    val mtime = new java.io.File(s"$dir/documents.parquet").lastModified
    val baseDistinct = bpeVocabGuardCache.getOrElseUpdate((dir, mtime),
      docs.select(explode(graft.functions.TextAnalysis.words(col("text"))).as("w"))
        .filter(col("w") =!= "").distinct().count())
    require(baseDistinct * copies < vocabCap,
      s"widened vocab ${baseDistinct * copies} would overflow vocabCap " +
        s"$vocabCap — the capped engine would diverge from the uncapped " +
        "DuckDB oracle; raise the cap (and keep the oracle uncapped) or " +
        "lower the widening")
    // Parallelize BEFORE the 48× widening: the raw corpus scan is one
    // unsplittable partition, so without this the explode + per-copy
    // regexp ran on ONE core and the round-robin repartition inside the
    // trainer then shuffled the widened bytes (measured: a 2.7 s
    // single-task stage writing 47.7 MB). Repartitioning the raw docs
    // first moves 0.6 MB and spreads the widening across the cluster —
    // shuffle the proxy, not the payload (guide §2.3/§3.3).
    val wide = graft.core.Partitions.ensureParallelism(docs)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("k"))
      .select((col("doc_id") * copies + col("k")).as("doc_id"),
        expr("regexp_replace(text, '(\\\\S+)', concat('$1q', k))").as("text"))
    Lexicon.bpeTrain(wide, "text", merges = 1100, vocabCap = vocabCap)
      .orderBy(col("step"))
  }

  /** UNCAPPED BPE inference gate — the codegen rank-loop encoder
    * ([[graft.operators.Lexicon.bpeApplyDeep]], merge-depth-independent
    * per-word cost) answers the SAME DuckDB oracle as q_bpe_apply's
    * replace-chain path: two independent Spark implementations and one
    * SQL mirror must all agree bit-for-bit. Depth itself (5k-merge
    * lists the replace-chain refuses) is pinned in LexiconSpec, where a
    * sequential-semantics driver mirror is cheap. */
  gate("q_bpe_apply_deep",
    // one map-side pass through the codegen rank-loop encoder; the 1 is
    // the output ORDER BY
    Budget(1),
    bpeApplyOracleSql(4)) { (s, dir) =>
    import graft.operators.Lexicon
    val docs = t(s, dir, "documents").df
    val table = artifactTable(s, "bpe_merges", dir, "documents")
    val merges = Lexicon.bpeMergesFor(docs, "text", table, merges = 4)
    Lexicon.bpeApplyDeep(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
  }

  /** Tokenizer INVERTIBILITY gate — encode every document into the
    * actual subword token stream (not just counts) with the PERSISTED
    * merge artifact, then DECODE it back (per-word token concatenation,
    * single-space word joins). The oracle recomputes the token stream
    * via the merge-CTE chain AND asserts `decoded` against the raw
    * whitespace-split words computed independently of any BPE machinery
    * — a lossy encoder is a hash mismatch, never a silent token-count
    * coincidence. BPE is concatenative, so the law is exact. */
  gate("q_bpe_roundtrip",
    // same map-side encode pass as q_bpe_apply, emitting the token
    // stream + decode instead of counts; the 1 is the output ORDER BY
    Budget(1),
    bpeRoundtripOracleSql(4)) { (s, dir) =>
    import graft.operators.Lexicon
    val docs = t(s, dir, "documents").df
    val table = artifactTable(s, "bpe_merges", dir, "documents")
    val merges = Lexicon.bpeMergesFor(docs, "text", table, merges = 4)
    Lexicon.bpeTokenize(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
  }

  /** The tokenizer's FINAL VOCABULARY artifact (the second file a BPE
    * tokenizer ships, next to the merge list): every surviving subword
    * symbol after 4 merges over the frequency-weighted corpus vocab,
    * with weighted occurrence counts and rank-stable 0-based token ids. */
  gate("q_bpe_vocab",
    // same audited shape as q_bpe_train: the KB-scale symbol table
    // localToDF + output ORDER BY; vocab aggregate runs in the driver
    // loop's bounded job
    Budget(1),
    bpeVocabOracleSql(4)) { (s, dir) =>
    import graft.operators.Lexicon
    Lexicon.bpeVocab(t(s, dir, "documents").df, "text", merges = 4)
      .orderBy(col("token_id"))
  }

  /** Shared CTE chain for the BPE oracles: the same delimiter-prefixed
    * greedy-replace construction as `Lexicon.bpeTrain`, one CTE triple
    * (pair counts → deterministic top-1 → vocab after merge) per round.
    * Generated rather than hand-unrolled so the round template is
    * written once. */
  private def bpeCtes(rounds: Int): String = {
    val head =
      """WITH words AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
        |), v0 AS MATERIALIZED (
        |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS t, count(*) AS freq
        |  FROM words WHERE w <> '' GROUP BY 1
        |)""".stripMargin
    val body = (1 to rounds).map { k =>
      s""", p$k AS MATERIALIZED (
         |  SELECT a[i] AS lhs, a[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, list_filter(string_split(t, chr(1)), x -> x <> '') AS a
         |    FROM v${k - 1}) AS s$k,
         |  LATERAL unnest(generate_series(1, len(a) - 1)) AS u(i)
         |  GROUP BY 1, 2
         |), t$k AS (SELECT lhs, rhs, n FROM p$k ORDER BY n DESC, lhs, rhs LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT replace(t,
         |    chr(1) || (SELECT lhs FROM t$k) || chr(1) || chr(1) ||
         |      (SELECT rhs FROM t$k) || chr(1),
         |    chr(1) || (SELECT lhs FROM t$k) || (SELECT rhs FROM t$k) || chr(1)) AS t, freq
         |  FROM v${k - 1}
         |)""".stripMargin
    }.mkString("\n")
    s"$head\n$body"
  }

  private def bpeOracleSql(rounds: Int): String = {
    val sel = (1 to rounds)
      .map(k => s"SELECT $k AS step, lhs, rhs, n AS n_occurrences FROM t$k")
      .mkString("\nUNION ALL ")
    s"${bpeCtes(rounds)}\n$sel\nORDER BY step"
  }

  /** [[q_bpe_train_vocab_depth]] oracle: the SAME per-round semantics as
    * [[bpeOracleSql]] (pair count → deterministic top-1 → delimiter
    * replace) over the `copies`-widened vocabulary, emitted as a flat
    * STATEMENT SEQUENCE (`CREATE OR REPLACE TEMP TABLE` triple per
    * round, `SELECT` last — DuckDB's Python `sql()` runs the sequence
    * and returns the final relation) instead of one chained
    * MATERIALIZED-CTE statement: at 1100 rounds the chain exceeds
    * DuckDB's binder recursion limit and its single-statement bind time
    * grows super-linearly, while the flat sequence binds each round
    * independently (measured: 28 s total at 1100 rounds, sf0.01).
    * Widening happens at the WORD level (`w || 'qk'`) — identical to
    * the engine's text-level suffix since words are whitespace-split.
    * The drained-round guard keeps post-drain rounds inert (empty top-1
    * would otherwise NULL the vocab via scalar subqueries). */
  private def bpeDeepWideOracleSql(rounds: Int, copies: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""CREATE OR REPLACE TEMP TABLE bpe_dw_v AS
         |SELECT regexp_replace(w || 'q' || CAST(k AS VARCHAR), '(.)', chr(1) || '\\1' || chr(1), 'g') AS t,
         |       count(*) AS freq
         |FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
         |     LATERAL unnest(generate_series(0, ${copies - 1})) AS g(k)
         |WHERE w <> ''
         |GROUP BY 1;
         |CREATE OR REPLACE TEMP TABLE bpe_dw_m (step INTEGER, lhs VARCHAR, rhs VARCHAR, n BIGINT);
         |""".stripMargin
    (1 to rounds).foreach { k =>
      sb ++=
        s"""CREATE OR REPLACE TEMP TABLE bpe_dw_t AS
           |SELECT lhs, rhs, n FROM (
           |  SELECT a[i] AS lhs, a[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS n
           |  FROM (SELECT freq, list_filter(string_split(t, chr(1)), x -> x <> '') AS a
           |    FROM bpe_dw_v) AS s,
           |  LATERAL unnest(generate_series(1, len(a) - 1)) AS u(i)
           |  GROUP BY 1, 2)
           |ORDER BY n DESC, lhs, rhs LIMIT 1;
           |INSERT INTO bpe_dw_m SELECT $k, lhs, rhs, n FROM bpe_dw_t;
           |CREATE OR REPLACE TEMP TABLE bpe_dw_v AS
           |SELECT CASE WHEN (SELECT count(*) FROM bpe_dw_t) = 0 THEN t
           |  ELSE replace(t,
           |    chr(1) || (SELECT lhs FROM bpe_dw_t) || chr(1) || chr(1) ||
           |      (SELECT rhs FROM bpe_dw_t) || chr(1),
           |    chr(1) || (SELECT lhs FROM bpe_dw_t) || (SELECT rhs FROM bpe_dw_t) || chr(1))
           |  END AS t, freq
           |FROM bpe_dw_v;
           |""".stripMargin
    }
    sb ++= "SELECT step, lhs, rhs, n AS n_occurrences FROM bpe_dw_m ORDER BY step"
    sb.toString
  }

  /** [[q_bpe_apply]] oracle: recompute the learned merges via the same
    * CTE chain, expose them as one cross-joined scalar row, and encode
    * every doc's words with the nested-replace chain inside a list
    * lambda — token count = delimiter count of the encoded word. */
  private def bpeApplyOracleSql(rounds: Int): String = {
    val mCols = (1 to rounds).map(k =>
      s"(SELECT lhs FROM t$k) AS l$k, (SELECT rhs FROM t$k) AS r$k")
      .mkString(", ")
    val enc = (1 to rounds).foldLeft(
      """regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g')""") { (acc, k) =>
      s"replace($acc, chr(1) || l$k || chr(1) || chr(1) || r$k || chr(1), " +
      s"chr(1) || l$k || r$k || chr(1))"
    }
    s"""${bpeCtes(rounds)}
       |, m AS (SELECT $mCols)
       |, tl AS (
       |  SELECT doc_id, coalesce(list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> x <> ''), CAST([] AS VARCHAR[])) AS ws
       |  FROM documents)
       |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens_raw,
       |  CAST(coalesce(list_sum(list_transform(ws, w ->
       |    (length($enc) - length(replace($enc, chr(1), ''))) // 2)), 0) AS BIGINT)
       |    AS n_tokens_bpe
       |FROM tl, m
       |ORDER BY doc_id""".stripMargin
  }

  /** [[q_bpe_roundtrip]] oracle: the same merge-CTE chain, the token
    * stream per word via the nested-replace encode + split, flattened
    * and chr(1)-joined — and `decoded` computed INDEPENDENTLY of the
    * encoder as the raw word list re-joined by spaces, which is what
    * pins losslessness. */
  private def bpeRoundtripOracleSql(rounds: Int): String = {
    val mCols = (1 to rounds).map(k =>
      s"(SELECT lhs FROM t$k) AS l$k, (SELECT rhs FROM t$k) AS r$k")
      .mkString(", ")
    val enc = (1 to rounds).foldLeft(
      """regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g')""") { (acc, k) =>
      s"replace($acc, chr(1) || l$k || chr(1) || chr(1) || r$k || chr(1), " +
      s"chr(1) || l$k || r$k || chr(1))"
    }
    val toks = s"list_filter(string_split($enc, chr(1)), x -> x <> '')"
    s"""${bpeCtes(rounds)}
       |, m AS (SELECT $mCols)
       |, tl AS (
       |  SELECT doc_id, coalesce(list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> x <> ''), CAST([] AS VARCHAR[])) AS ws
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(coalesce(list_sum(list_transform(ws, w -> len($toks))), 0)
       |    AS BIGINT) AS n_tokens_bpe,
       |  array_to_string(flatten(list_transform(ws, w -> $toks)), chr(1))
       |    AS tokens_joined,
       |  array_to_string(ws, ' ') AS decoded
       |FROM tl, m
       |ORDER BY doc_id""".stripMargin
  }

  /** [[q_bpe_vocab]] oracle: the final vocab CTE (v`rounds`) re-split
    * into symbols, tallied weighted by word frequency, ranked
    * (count desc, token asc) into 0-based token ids. */
  private def bpeVocabOracleSql(rounds: Int): String =
    s"""${bpeCtes(rounds)}
       |, sym AS (
       |  SELECT x AS token, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |  FROM (SELECT freq, list_filter(string_split(t, chr(1)), x -> x <> '') AS a
       |    FROM v$rounds) AS s,
       |  LATERAL unnest(a) AS u(x)
       |  GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) - 1
       |    AS BIGINT) AS token_id,
       |  token, n_occurrences
       |FROM sym
       |ORDER BY token_id""".stripMargin
}
