package graft.gates

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup

import Fixtures._

/** Deduplication gates: exact, n-gram, MinHash, SimHash, embedding and
  * semantic dedup, span, substring and line dedup, and incremental dedup
  * against an existing corpus. */
object DedupGates extends Family {

  // ------------------------------------------------------------------
  // Training-data pipeline: split / sample / decontaminate / chunk /
  // ------------------------------------------------------------------

  /** Span-level exact dedup (paragraph-dedup analogue): disjoint 20-word
    * spans, global keep-first by span text, docs reassembled from their
    * surviving spans. */
  gate("q_span_dedup", Budget(3),
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0
      |), w AS (
      |  SELECT doc_id, ws, len(ws) AS nw,
      |    1 + greatest(0, (len(ws) - 20 + 19) // 20) AS n_win
      |  FROM docs
      |), spans AS (
      |  SELECT doc_id,
      |    unnest(generate_series(0, n_win - 1)) AS chunk_id,
      |    unnest(list_transform(generate_series(0, n_win - 1),
      |      s -> array_to_string(list_slice(ws, s*20 + 1, least(s*20 + 20, nw)), ' '))) AS chunk_text
      |  FROM w
      |), rn AS (
      |  SELECT doc_id, chunk_id, chunk_text,
      |    row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
      |  FROM spans
      |)
      |SELECT doc_id,
      |  count(*) AS n_spans,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
      |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS text_kept
      |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.dedupSpans(t(s, dir, "documents").df, "doc_id", "text", spanTokens = 20)
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup: a synthesized "today's crawl" — exact
    * re-crawls of every doc_id%3==0 doc (shifted ids) plus genuinely
    * fresh docs — anti-joined against the existing corpus by normalized
    * content digest. Every re-crawl must drop, every fresh doc must
    * survive. */
  gate("q_dedup_incremental",
    // existing-key DISTINCT agg + output ORDER BY; the anti-join
    // broadcasts at this SF (shuffles on the digest at scale)
    Budget(2),
    """WITH inc AS (
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' fresh ' || doc_id AS text
      |  FROM documents WHERE doc_id % 3 = 1
      |), n AS (
      |  SELECT doc_id, text,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM inc
      |), ex AS (
      |  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents
      |)
      |SELECT n.doc_id, CAST(length(n.text) AS INTEGER) AS n_chars_in
      |FROM n WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.t = n.t)
      |ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Dedup
    val docs = t(s, dir, "documents").df
    val recrawl = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 3 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" fresh "), col("doc_id").cast("string"))
          .as("text"))
    Dedup.dedupAgainst(recrawl.unionByName(fresh), docs, "text")
      .select(col("doc_id"), length(col("text")).as("n_chars_in"))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window exact substring dedup (Lee et al. ExactSubstr,
    * 8-token windows): every non-first occurrence of a duplicated
    * 8-gram loses its token span; full reassembled text byte-matched
    * for ALL docs, untouched ones included. */
  gate("q_substr_dedup",
    // ensureParallelism + window-key agg + the reused window-keyed
    // confirm-join exchange + per-doc removed-set agg + output ORDER BY
    // 6 → 5 with the r8 window-explode performance cache: the confirm
    // join's probe side reads the cached explode instead of re-planning
    // its own exchange
    Budget(5),
    """WITH tl AS (
      |  SELECT doc_id,
      |    coalesce(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> ''), CAST([] AS VARCHAR[])) AS ws
      |  FROM documents
      |), w AS (
      |  SELECT doc_id, j, md5(array_to_string(ws[j:j+7], ' ')) AS key
      |  FROM tl, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(j)
      |), rk AS (
      |  SELECT doc_id, j,
      |    row_number() OVER (PARTITION BY key ORDER BY doc_id, j) AS rn
      |  FROM w
      |), pos AS (
      |  SELECT DISTINCT doc_id, p
      |  FROM rk, LATERAL unnest(generate_series(j, j + 7)) AS t(p)
      |  WHERE rn >= 2
      |), rem AS (
      |  SELECT doc_id, list(p) AS rem, count(*) AS nr FROM pos GROUP BY doc_id
      |)
      |SELECT tl.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(rem.nr, 0) AS BIGINT) AS n_removed,
      |  coalesce(array_to_string(list_filter(ws, (x, i) ->
      |    NOT list_contains(coalesce(rem.rem, CAST([] AS BIGINT[])), i)),
      |    ' '), '') AS text_kept
      |FROM tl LEFT JOIN rem ON tl.doc_id = rem.doc_id
      |ORDER BY tl.doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.dedupSubstrings(t(s, dir, "documents").df, "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))
  }

  /** Line-level duplicate removal at strict maxFreq=1 (drop every copy of
    * any line repeated anywhere in the corpus — the CCNet/RefinedWeb
    * boilerplate guard). The synthetic documents carry no newlines, so a
    * lined view is synthesized map-side first (3-word lines — the house
    * idiom for structure the synthetic tables lack, as q_pii_redact does
    * for PII). */
  gate("q_line_dedup", Budget(3),
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0
      |), lines AS (
      |  SELECT doc_id,
      |    unnest(generate_series(0, (len(ws) + 2) // 3 - 1)) AS line_no,
      |    unnest(list_transform(generate_series(0, (len(ws) + 2) // 3 - 1),
      |      i -> array_to_string(
      |        list_slice(ws, i*3 + 1, least(i*3 + 3, len(ws))), ' '))) AS line
      |  FROM docs
      |), f AS (
      |  SELECT doc_id, line_no, line,
      |    count(*) OVER (PARTITION BY line) AS freq
      |  FROM lines
      |)
      |SELECT doc_id,
      |  count(*) AS n_lines,
      |  CAST(sum(CASE WHEN freq <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
      |  coalesce(string_agg(CASE WHEN freq <= 1 THEN line END, chr(10) ORDER BY line_no), '') AS text_kept
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    val lined = t(s, dir, "documents").df
      .filter(length(trim(col("text"))) > 0)
      .withColumn("__ws", graft.functions.TextAnalysis.words(col("text")))
      .withColumn("text_lined", array_join(transform(
        sequence(lit(0), expr("(size(__ws) + 2) div 3") - 1),
        i => array_join(slice(col("__ws"), (i * 3 + 1).cast("int"), lit(3)),
          " ")), "\n"))
      .select(col("doc_id"), col("text_lined"))
    Chunk.removeFrequentLines(lined, "doc_id", "text_lined", maxFreq = 1)
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Deduplication (training-data pipeline operators)
  // ------------------------------------------------------------------

  /** Exact dedup by content fingerprint, first doc_id survives. */
  gate("q_dedup_exact", Budget(2),
    """SELECT doc_id, fp FROM (
      |  SELECT doc_id, md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS fp,
      |    row_number() OVER (
      |      PARTITION BY md5(lower(regexp_replace(trim(text),'\s+',' ','g')))
      |      ORDER BY doc_id) AS rn
      |  FROM documents
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.exact(t(s, dir, "documents").df,
        TextAnalysis.fingerprint(col("text")), Seq(col("doc_id").asc))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Exact 3-gram Jaccard near-dup pairs (inverted-index join, no
    * cartesian product) — the verification oracle for MinHash. */
  gate("q_dedup_ngram", Budget(3),
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
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      |FROM inter
      | JOIN sizes sa ON sa.doc_id = id_a
      | JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents").df, "doc_id", "text",
        n = 3, minJaccard = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash-LSH RECALL GATE (oracle-checked): every exact 3-gram-Jaccard
    * pair at ≥ 0.8 must surface as an LSH band-collision candidate. The
    * output is the exact pairs semi-joined with the candidate set, so the
    * DuckDB exact-Jaccard oracle hash-matches iff LSH candidate recall is
    * 100% at this threshold (16 bands × 4 rows: per-pair miss probability
    * (1−0.8⁴)¹⁶ ≈ 2×10⁻⁴, deterministic hashes — verified at gate SF). */
  // RECALL GATES: the oracle computes the EXACT answer only; the Spark
  // side semi-joins it with the approximate path's candidates, so the
  // row hash-matches iff approximate recall is 100% at the gate SF.
  gate("q_dedup_minhash", Budget(5),
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
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      |FROM inter
      | JOIN sizes sa ON sa.doc_id = id_a
      | JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").df
    // The gate output is exact ∩ candidates, and banding membership is a
    // PER-PAIR property (signatures are per-doc, a pair collides iff one
    // of ITS bands hashes equal), so the candidate join runs over only
    // the docs that participate in an exact pair — a semi-join
    // pre-filter (guide §3.2) that shrinks the bucket self-join
    // quadratically with zero change to which pairs it emits. The exact
    // side is materialized once (it feeds both the filter and the
    // output), the q_dedup_semantic idiom.
    val exact = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 3, minJaccard = 0.8)
      .localCheckpoint(true)
    val pairIds = exact.select(col("id_a").as("doc_id"))
      .unionByName(exact.select(col("id_b").as("doc_id"))).distinct()
    val cands = Dedup.minhashCandidates(
      docs.join(pairIds, Seq("doc_id"), "left_semi"), "doc_id", "text")
    exact.join(cands, Seq("id_a", "id_b"), "left_semi")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash RECALL GATE (oracle-checked): every ESSENTIALLY-IDENTICAL
    * pair (3-gram Jaccard ≥ 0.98 — SimHash's honest contract is
    * near-identical detection) must be flagged by chunk banding within
    * Hamming ≤ 7 (8×8-bit chunks: pigeonhole guarantees candidate recall
    * exactly to distance 7). Measured across sf0.001/0.01/0.1: j ≥ 0.98
    * pairs sit at distance ≤ 5 — margin 2 under the guarantee. (At
    * j ≥ 0.9 word-level SimHash reaches distance 11 on the larger
    * corpus; detecting those is MinHash's regime, gated above.) */
  gate("q_dedup_simhash", Budget(5),
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
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      |FROM inter
      | JOIN sizes sa ON sa.doc_id = id_a
      | JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.98
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").df
    // exact ∩ candidates with chunk-banding membership a PER-PAIR
    // property (codes are per-doc; a pair is a candidate iff ITS two
    // codes share a chunk and sit within the distance) — so the
    // 8-band×8-bit candidate join, whose 2^8-sized band value space is
    // the documented volume trade, runs over only the docs that
    // participate in an exact pair: the q_dedup_minhash semi-join
    // pre-filter (guide §3.2), output-identical by the per-pair
    // argument.
    val exact = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 3, minJaccard = 0.98)
      .localCheckpoint(true)
    val pairIds = exact.select(col("id_a").as("doc_id"))
      .unionByName(exact.select(col("id_b").as("doc_id"))).distinct()
    val cands = Dedup.simhashPairs(
        docs.join(pairIds, Seq("doc_id"), "left_semi"),
        "doc_id", "text", maxDist = 7, chunkBits = 8)
      .select("id_a", "id_b")
    exact.join(cands, Seq("id_a", "id_b"), "left_semi")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** End-to-end near-dup removal (greedy keep-lowest-id over exact
    * n-gram-Jaccard pairs) — the corpus after dedup, not just the pairs. */
  gate("q_dedup_remove", Budget(2),
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
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), dropped AS (
      |  SELECT DISTINCT id_b FROM inter
      |   JOIN sizes sa ON sa.doc_id = id_a
      |   JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
      |)
      |SELECT doc_id, lang, n_chars FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.id_b = d.doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.removeNearDuplicates(t(s, dir, "documents").df, "doc_id", "text", 3, 0.5)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTER ids via connected components over the exact
    * 3-gram-Jaccard pair graph: every doc gets the min doc_id reachable
    * through near-dup pairs (singletons = own id). Distributed min-label
    * propagation over the edge list; the DuckDB oracle recomputes it as
    * a recursive transitive closure. */
  gate("q_dedup_cluster", Budget(2),
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM docs
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |    JOIN sizes sa ON sa.doc_id = id_a
      |    JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
      |)
      |SELECT d.doc_id,
      |  least(coalesce(m.mn, d.doc_id), d.doc_id) AS cluster_id
      |FROM documents d
      |LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) m ON m.u = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    Dedup.clusterNearDuplicates(t(s, dir, "documents").df, "doc_id", "text",
        n = 3, minJaccard = 0.5)
      .select(col("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Embedding-cosine near-dup pairs above 0.35 (exact all-pairs at test
    * scale; LSH banding is the 100 TB path). */
  gate("q_dedup_embedding", Budget(2,
      bnlj = Some("verification-grade exact all-pairs; LSH banding is the scale path")),
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      |  AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) > 0.35
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.embeddingCosinePairs(t(s, dir, "embeddings").df,
        "vec_id", "embedding", threshold = 0.35)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup RECALL-FLOOR GATE (oracle-checked, sketch-gate idiom):
    * cluster-scoped candidate generation ([[Dedup.semanticPairs]], k=8
    * spherical cells, top-3 multi-assignment) must recover ≥ 90% of the
    * exact cosine pairs at 0.35, or the in-plan gate empties the output
    * and the row count breaks against the unconditional exact oracle.
    * The floor is a floor, not 100%: this synthetic corpus is
    * near-uniform (no semantic cluster structure — ProbeSemantic
    * measures 0.95/0.97/0.96 recall at sf0.001/0.01/0.1), so
    * cluster-scoped pruning genuinely loses the tail, exactly the
    * recall-for-volume trade SemDeDup makes; on a corpus with real
    * duplicate structure the same parameters sit at 1.0. The gate
    * decision is IN-PLAN (a one-row broadcast join, no driver-side
    * counting); the exact side is materialized once up front so the
    * verification-grade all-pairs join doesn't run twice. */
  // same exact-pair oracle as q_dedup_embedding: the semantic gate must
  // reproduce the UNCONDITIONAL exact answer, and only does so when the
  // cluster-scoped candidate recall clears its in-plan 0.9 floor
  gate("q_dedup_semantic", Budget(6,
      bnlj = Some("recall-floor gate join: build side is exactly ONE broadcast row (the verification-grade all-pairs exact side is materialized once, outside this plan)")),
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      |  AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) > 0.35
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings").df
    // the exact side feeds BOTH the gate aggregate and the output —
    // materialize the (tiny: pairs above threshold) frame once so the
    // verification-grade all-pairs join runs once, not twice
    val exact = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", threshold = 0.35)
      .localCheckpoint(true)
    val cands = Dedup.semanticPairs(emb, "vec_id", "embedding", threshold = 0.35,
      nCentroids = 8, probes = 3).select(col("id_a"), col("id_b"), lit(1).as("__c"))
    val gate = exact.join(cands, Seq("id_a", "id_b"), "left")
      .agg((sum(coalesce(col("__c"), lit(0))) >= count(lit(1)) * 0.9).as("__ok"))
    exact.crossJoin(broadcast(gate)).filter(col("__ok"))
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
