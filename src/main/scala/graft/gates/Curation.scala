package graft.gates

import org.apache.spark.sql.functions._

import graft.core.{GTable, SortKey}
import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.operators.Multimodal

import Fixtures._

/** Training-data curation gates: text analysis and quality filters,
  * splits and samples, decontamination, chunking and packing, scrubbing,
  * scoring, budgets, mixing, embeddings and multimodal columns
  * (OPERATORS.md, LLM-pipeline operators). */
object CurationGates extends Family {

  // ------------------------------------------------------------------
  // Text analysis (training-data pipeline operators, BASELINE.json)
  // ------------------------------------------------------------------

  /** Token counting: whitespace tokens + chars/4 subword estimate. */
  gate("q_token_count", Budget(1),
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS n_tokens,
      |  CAST(ceil(length(regexp_replace(text,'\s+','','g'))/4.0) AS BIGINT) AS n_tok_est,
      |  length(text) AS len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").df.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.tokenEstimate(col("text")).as("n_tok_est"),
      length(col("text")).cast("long").as("len"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length / punctuation / stopword-ratio heuristics. */
  gate("q_quality_score", Budget(1),
    """WITH q AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(text),'\s+') AS ws,
      |    length(text) AS n_chars_c
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, n_chars_c,
      |    CAST(n_chars_c - length(regexp_replace(text,'[.!?,;:]','','g')) AS DOUBLE)
      |      / CAST(greatest(n_chars_c, 1) AS DOUBLE) AS punct_ratio,
      |    CAST(len(list_filter(ws, x -> x='the')) + len(list_filter(ws, x -> x='a'))
      |       + len(list_filter(ws, x -> x='of')) + len(list_filter(ws, x -> x='and'))
      |       + len(list_filter(ws, x -> x='to')) AS DOUBLE)
      |      / CAST(greatest(len(ws), 1) AS DOUBLE) AS stopword_ratio,
      |    CAST(length(regexp_replace(text,'\s+','','g')) AS DOUBLE)
      |      / CAST(greatest(len(ws), 1) AS DOUBLE) AS mean_word_len
      |  FROM q)
      |SELECT doc_id, n_chars_c, punct_ratio, stopword_ratio, mean_word_len,
      |  ((CASE WHEN n_chars_c BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
      | + (CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.5 THEN 1.0 ELSE 0.0 END)
      | + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)) / 3.0
      |   AS quality
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").df.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_c"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style quality rules (Rae et al. 2021 §A1.1) as per-doc
    * boolean flags + conjunctive keep: word-count band, mean-word-length
    * band, symbol-char ratio, alphabetic-word fraction, minimum stopword
    * hits. One codegen'd map pass, no shuffle. */
  gate("q_gopher_rules", Budget(1),
    """WITH base AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
      |    string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, n_words,
      |    length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
      |      / greatest(n_words, 1) AS mwl,
      |    (length(text) - length(regexp_replace(text, '#|…|\.\.\.', '', 'g')))::DOUBLE
      |      / greatest(n_words, 1) AS sym_ratio,
      |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
      |      / greatest(n_words, 1) AS alpha_frac,
      |    len(list_filter(ws, w -> w = 'the')) + len(list_filter(ws, w -> w = 'a'))
      |      + len(list_filter(ws, w -> w = 'of')) + len(list_filter(ws, w -> w = 'and'))
      |      + len(list_filter(ws, w -> w = 'to')) AS stop_hits
      |  FROM base
      |)
      |SELECT doc_id, n_words,
      |  n_words BETWEEN 30 AND 100000 AS ok_words,
      |  mwl BETWEEN 3.0 AND 10.0 AS ok_mwl,
      |  sym_ratio <= 0.1 AS ok_symbols,
      |  alpha_frac >= 0.8 AS ok_alpha,
      |  stop_hits >= 2 AS ok_stopwords,
      |  (n_words BETWEEN 30 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
      |    AND sym_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 2 AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    Curate.gopherRules(t(s, dir, "documents").df, "text",
        minWords = 30, maxWords = 100000, mwlLo = 3.0, mwlHi = 10.0,
        maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStopwords = 2,
        stopwords = Seq("the", "a", "of", "and", "to"))
      .select(col("doc_id"), col("n_words"), col("ok_words"), col("ok_mwl"),
        col("ok_symbols"), col("ok_alpha"), col("ok_stopwords"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Language ID: argmax of per-language marker-word hits. */
  gate("q_lang_id", Budget(1),
    """WITH w AS (
      |  SELECT doc_id, lang, string_split_regex(trim(text),'\s+') AS ws FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(ws, x->x='the')) + len(list_filter(ws, x->x='and'))
      |       + len(list_filter(ws, x->x='of')) + len(list_filter(ws, x->x='to'))
      |       + len(list_filter(ws, x->x='a')) AS BIGINT) AS s_en,
      |    CAST(len(list_filter(ws, x->x='der')) + len(list_filter(ws, x->x='die'))
      |       + len(list_filter(ws, x->x='und')) + len(list_filter(ws, x->x='das'))
      |       + len(list_filter(ws, x->x='ist')) AS BIGINT) AS s_de,
      |    CAST(len(list_filter(ws, x->x='el')) + len(list_filter(ws, x->x='la'))
      |       + len(list_filter(ws, x->x='de')) + len(list_filter(ws, x->x='que'))
      |       + len(list_filter(ws, x->x='los')) AS BIGINT) AS s_es,
      |    CAST(len(list_filter(ws, x->x='le')) + len(list_filter(ws, x->x='la'))
      |       + len(list_filter(ws, x->x='les')) + len(list_filter(ws, x->x='des'))
      |       + len(list_filter(ws, x->x='est')) AS BIGINT) AS s_fr,
      |    CAST(len(list_filter(ws, x->x='的')) + len(list_filter(ws, x->x='是'))
      |       + len(list_filter(ws, x->x='了')) + len(list_filter(ws, x->x='在'))
      |       + len(list_filter(ws, x->x='我')) AS BIGINT) AS s_zh
      |  FROM w)
      |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
      |  CASE WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_en > 0 THEN 'en'
      |       WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_de > 0 THEN 'de'
      |       WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_es > 0 THEN 'es'
      |       WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_fr > 0 THEN 'fr'
      |       WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_zh > 0 THEN 'zh'
      |       ELSE 'und' END AS lang_pred
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = t(s, dir, "documents").df
    val scored = TextAnalysis.langMarkers.foldLeft(base) { case (d, (lang, ms)) =>
      d.withColumn(s"s_$lang", TextAnalysis.langScore(col("text"), ms).cast("long"))
    }
    scored.withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .select(col("doc_id"), col("lang"), col("s_en"), col("s_de"), col("s_es"),
        col("s_fr"), col("s_zh"), col("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting (md5 over normalized text). */
  gate("q_fingerprint", Budget(1),
    """SELECT doc_id,
      |  md5(lower(regexp_replace(trim(text),'\s+',' ','g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").df.select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Curation funnel: conjunctive filter chain with a one-pass
    * per-stage survivor report (stage 0 = input). Stages use table
    * columns + the repetition signal so the oracle can mirror them. */
  gate("q_curation_funnel", Budget(1),
    """WITH docs AS (
      |  SELECT lang, n_chars,
      |    string_split_regex(trim(text), '\s+') AS ws FROM documents
      |), g AS (
      |  SELECT lang, n_chars,
      |    list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
      |  FROM docs
      |), p AS (
      |  SELECT lang = 'en' AS p1, n_chars >= 200 AS p2,
      |    (CASE WHEN len(g3) > 0
      |      THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
      |      ELSE 0.0 END) < 0.5 AS p3
      |  FROM g)
      |SELECT * FROM (
      |  SELECT 0 AS stage, 'input' AS name, count(*) AS survivors FROM p
      |  UNION ALL
      |  SELECT 1, 'lang_en', count(*) FILTER (WHERE p1) FROM p
      |  UNION ALL
      |  SELECT 2, 'min_len', count(*) FILTER (WHERE p1 AND p2) FROM p
      |  UNION ALL
      |  SELECT 3, 'low_repetition', count(*) FILTER (WHERE p1 AND p2 AND p3) FROM p)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    import graft.operators.Curate.Stage
    val docs = t(s, dir, "documents")
    Curate.report(docs, Seq(
      Stage("lang_en", col("lang") === "en"),
      Stage("min_len", col("n_chars") >= 200),
      Stage("low_repetition", TextAnalysis.dupNgramFraction(col("text"), 3) < 0.5)))
      .orderBy(col("stage"))
  }

  // ------------------------------------------------------------------
  // Training-data pipeline: split / sample / decontaminate / chunk /
  // ------------------------------------------------------------------

  /** Deterministic 80/10/10 train/val/test split keyed on doc_id
    * (md5-threshold assignment — bit-identical in any engine, stable
    * under repartition/backfill). */
  gate("q_split_hash", Budget(1),
    """SELECT doc_id,
      |  CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
      |         < 'cccccccc' THEN 'train'
      |       WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
      |         < 'e6666666' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Split
    Split.hashSplit(t(s, dir, "documents").df, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified sample: exactly 20 docs per language,
    * ranked by (md5 hash, doc_id) within the stratum. */
  gate("q_sample_stratified", Budget(2),
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Split
    Split.stratifiedSample(t(s, dir, "documents").df, Seq("lang"),
        col("doc_id"), nPerStratum = 20, salt = "s")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** A-Res weighted sampling without replacement: 200 docs drawn with
    * probability ∝ n_chars — deterministic md5 uniforms, so the sampled
    * set and its ranks are engine-exact (the double `ln(u)/w` only
    * orders; doc_id breaks ties). */
  gate("q_weighted_sample", Budget(0,
      globalWindow = Some("sample_rank runs AFTER .limit(k): the window's one partition holds exactly k rows")),
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    ln((('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |        + 0.5) / 4294967296.0)
      |      / CAST(n_chars AS DOUBLE) AS wkey
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      |)
      |SELECT doc_id, n_chars, sample_rank FROM (
      |  SELECT doc_id, n_chars,
      |    row_number() OVER (ORDER BY wkey DESC, doc_id) AS sample_rank
      |  FROM s)
      |WHERE sample_rank <= 200 ORDER BY sample_rank""".stripMargin) { (s, dir) =>
    import graft.operators.Split
    Split.weightedSample(t(s, dir, "documents").df, col("doc_id"),
        col("n_chars"), k = 200, salt = "ws")
      .select(col("doc_id"), col("n_chars"), col("sample_rank"))
  }

  /** Benchmark-contamination flags: every 20th doc plays the eval set;
    * output = corpus docs sharing ≥1 word-3-gram with it, with the
    * count of distinct shared shingles. */
  gate("q_contamination", Budget(3),
    """WITH bsh AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM (SELECT string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents WHERE doc_id % 20 = 0)
      |), csh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents WHERE doc_id % 20 <> 0)
      |)
      |SELECT doc_id, count(*) AS n_shared
      |FROM csh JOIN bsh USING (shingle)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Contamination
    val docs = t(s, dir, "documents").df
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    Contamination.sharedNgrams(corpus, "doc_id", "text", bench, "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** FUZZY decontamination: corpus docs whose word-3-gram Jaccard with
    * any benchmark doc reaches 0.5 are dropped — the near-duplicate
    * leakage guard (catches paraphrased benchmark items a raw
    * shared-n-gram count over-/under-flags). Benchmark side broadcast;
    * single shuffle on the (corpus, bench) pair intersection. Oracle:
    * the same exact Jaccard in DuckDB string 3-grams. */
  gate("q_decontam_fuzzy", Budget(4),
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
      |  SELECT c.doc_id AS cid, b.doc_id AS bid, count(*) AS i
      |  FROM sh c JOIN sh b ON c.shingle = b.shingle
      |  WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
      |  GROUP BY 1, 2
      |), flagged AS (
      |  SELECT DISTINCT cid FROM inter
      |  JOIN sizes sc ON sc.doc_id = cid
      |  JOIN sizes sb ON sb.doc_id = bid
      |  WHERE CAST(i AS DOUBLE) / CAST(sc.n_sh + sb.n_sh - i AS DOUBLE) >= 0.5
      |)
      |SELECT doc_id, n_chars FROM documents
      |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT cid FROM flagged)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Contamination
    val docs = t(s, dir, "documents").df
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    Contamination.decontaminateFuzzy(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minJaccard = 0.5)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered EXACT decontamination: same output as the exact
    * path (the bloom only prunes candidates map-side; survivors confirm
    * via the shared-n-gram join), gated against the plain exact oracle —
    * proving the 100 TB prefilter shape loses nothing. */
  // The bloom variant must yield the same corpus as exact
  // decontamination — the oracle IS the exact computation.
  gate("q_decontam_bloom", Budget(3),
    """WITH bsh AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM (SELECT string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents WHERE doc_id % 20 = 0)
      |), csh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents WHERE doc_id % 20 <> 0)
      |), contaminated AS (
      |  SELECT DISTINCT doc_id FROM csh JOIN bsh USING (shingle)
      |)
      |SELECT doc_id, n_chars FROM documents
      |WHERE doc_id % 20 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Contamination
    val docs = t(s, dir, "documents").df
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    Contamination.decontaminateBloom(corpus, "doc_id", "text", bench, "text",
        n = 3, expectedItems = 1L << 17, fpp = 0.03)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Per-source cap (corpus balancing): keep the 40 longest docs per
    * source, ties by doc_id — one ranking window per group key. */
  gate("q_cap_per_source", Budget(2),
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 40 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    Curate.capPerGroup(t(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id")), k = 40).df
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Quantile-band outlier trim: keep docs whose length lies within the
    * exact [p05, p95] band (thresholds broadcast as a one-row join). */
  gate("q_quantile_band", Budget(2,
      bnlj = Some("quantile thresholds: build side is exactly ONE broadcast row (the [lo,hi] aggregate), so the 'nested loop' is a map over the stream side")),
    """WITH q AS (
      |  SELECT quantile_cont(n_chars, 0.05) AS lo,
      |         quantile_cont(n_chars, 0.95) AS hi
      |  FROM documents)
      |SELECT doc_id, n_chars FROM documents, q
      |WHERE n_chars >= lo AND n_chars <= hi
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    Curate.quantileBand(t(s, dir, "documents"), col("n_chars"), 0.05, 0.95).df
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary: top-50 whitespace tokens with occurrence and
    * document frequencies in one exploded aggregate. */
  gate("q_vocab_top", Budget(3),
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents)
      |SELECT token, count(*) AS n_occurrences,
      |  count(DISTINCT doc_id) AS n_docs
      |FROM toks WHERE token <> ''
      |GROUP BY token
      |ORDER BY n_occurrences DESC, token
      |LIMIT 50""".stripMargin) { (s, dir) =>
    import graft.operators.Lexicon
    Lexicon.vocab(t(s, dir, "documents").df, "doc_id", "text", 50)
  }

  /** Top-5 TF-IDF terms per document (sklearn-smoothed idf); the gate
    * compares the integer tf/df/rank columns — the double tfidf score
    * only orders the window in both engines. */
  gate("q_tfidf_top", Budget(5),
    """WITH toks AS (
      |  SELECT doc_id AS id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents
      |), tf AS (
      |  SELECT id, token, count(*) AS tf FROM toks
      |  WHERE token <> '' GROUP BY id, token
      |), dfreq AS (
      |  SELECT token, count(*) AS df FROM tf GROUP BY token
      |), nn AS (SELECT count(*) AS n FROM documents)
      |SELECT id, token, tf, df, term_rank FROM (
      |  SELECT id, token, tf, df,
      |    row_number() OVER (PARTITION BY id
      |      ORDER BY tf * (ln((nn.n + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0) DESC,
      |               tf DESC, df ASC, token) AS term_rank
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN nn)
      |WHERE term_rank <= 5
      |ORDER BY id, term_rank""".stripMargin) { (s, dir) =>
    import graft.operators.Lexicon
    Lexicon.topTermsPerDoc(t(s, dir, "documents").df, "doc_id", "text", 5)
      .select(col("id"), col("token"), col("tf"), col("df"), col("term_rank"))
      .orderBy(col("id"), col("term_rank"))
  }

  /** Near-dup clusters keeping the BEST doc per cluster (longest, then
    * lowest id) instead of the lowest-id anchor. */
  gate("q_cluster_best", Budget(3),
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
      |SELECT doc_id, n_chars FROM (
      |  SELECT d.doc_id, d.n_chars,
      |    row_number() OVER (
      |      PARTITION BY least(coalesce(m.mn, d.doc_id), d.doc_id)
      |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
      |  FROM documents d
      |  LEFT JOIN (SELECT u, min(v) AS mn FROM reach GROUP BY u) m
      |    ON m.u = d.doc_id)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Dedup
    Dedup.dedupClustersKeepBest(t(s, dir, "documents").df, "doc_id", "text",
        best = Seq(col("n_chars").desc, col("doc_id")), n = 3, minJaccard = 0.5)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Token-window chunking: 64-token windows every 48 tokens (16-token
    * overlap), tail window kept short. */
  gate("q_chunk_windows", Budget(1),
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents WHERE length(trim(text)) > 0
      |), w AS (
      |  SELECT doc_id, ws, len(ws) AS nw,
      |    1 + greatest(0, (len(ws) - 64 + 47) // 48) AS n_win
      |  FROM docs)
      |SELECT doc_id,
      |  unnest(generate_series(0, n_win - 1)) AS chunk_id,
      |  unnest(list_transform(generate_series(0, n_win - 1),
      |    s -> array_to_string(list_slice(ws, s*48 + 1, least(s*48 + 64, nw)), ' ')))
      |    AS chunk_text,
      |  unnest(list_transform(generate_series(0, n_win - 1),
      |    s -> CAST(least(64, nw - s*48) AS BIGINT))) AS n_tokens
      |FROM w ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.tokenWindows(t(s, dir, "documents").df, "doc_id", "text",
        windowTokens = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Concat-and-cut sequence-packing index at context 512: per doc, its
    * global token offset and first/last packed sequence. The corpus-wide
    * cumulative sum runs via Ordinals.keyedRunningTotal (pure-Catalyst
    * value-keyed two-level prefix sum), not a single-partition window. */
  gate("q_pack_index", Budget(2),
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE length(trim(text)) > 0
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      |  FROM d)
      |SELECT doc_id, n_tokens, tok_offset,
      |  tok_offset // 512 AS first_seq,
      |  (tok_offset + n_tokens - 1) // 512 AS last_seq
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.packIndex(t(s, dir, "documents").df, "doc_id", "text", contextLen = 512)
      .orderBy(col("doc_id"))
  }

  /** Sequence-side packing view at context 512: per packed sequence, its
    * document count, token fill, and contributing doc-id range — the
    * attention-boundary map for a packed-pretraining loader. One explode
    * + one groupBy(seq) on top of the pack index. */
  gate("q_pack_sequences", Budget(3),
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE length(trim(text)) > 0
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      |  FROM d
      |), p AS (
      |  SELECT doc_id, n_tokens, tok_offset,
      |    tok_offset // 512 AS first_seq,
      |    (tok_offset + n_tokens - 1) // 512 AS last_seq
      |  FROM c
      |), x AS (
      |  SELECT doc_id, n_tokens, tok_offset,
      |    unnest(generate_series(first_seq, last_seq)) AS seq_id
      |  FROM p)
      |SELECT seq_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(least(tok_offset + n_tokens, (seq_id + 1) * 512)
      |    - greatest(tok_offset, seq_id * 512)) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.packSequences(t(s, dir, "documents").df, "doc_id", "text",
        contextLen = 512)
      .orderBy(col("seq_id"))
  }

  /** Content-defined chunking (LBFS/rsync boundaries at token
    * granularity): 4-token boundary windows, expected chunk ≈ 16
    * tokens; every chunk's position, length and text byte-matched. */
  gate("q_cdc_chunks",
    // boundary math + chunk explode are map-side; the 1 is the ORDER BY
    Budget(1),
    """WITH tl AS (
      |  SELECT doc_id,
      |    coalesce(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> ''), CAST([] AS VARCHAR[])) AS ws
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, ws, len(ws) AS n,
      |    list_filter(generate_series(4, len(ws) - 1), j ->
      |      (('0x' || substr(md5(array_to_string(ws[j-3:j], ' ')), 1, 8))::BIGINT
      |        % 16 = 0)) AS bpos
      |  FROM tl WHERE len(ws) > 0
      |), c AS (
      |  SELECT doc_id, ws,
      |    list_prepend(1, list_transform(bpos, j -> j + 1)) AS starts,
      |    list_append(bpos, n) AS ends
      |  FROM b
      |)
      |SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_id,
      |  CAST(starts[i] AS INTEGER) AS start_tok,
      |  CAST(ends[i] - starts[i] + 1 AS INTEGER) AS n_tokens,
      |  array_to_string(ws[starts[i]:ends[i]], ' ') AS chunk_text
      |FROM c, LATERAL unnest(generate_series(1, len(starts))) AS t(i)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.contentDefinedChunks(t(s, dir, "documents").df, "doc_id", "text",
        windowTokens = 4, modulus = 16)
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** PII redaction over the corpus: deterministic PII-shaped strings
    * (email / phone / SSN / IPv4, derived from doc_id) are appended to
    * each doc, then scrubbed by the Scrub rule chain — one codegen'd map
    * pass of regexp_count + regexp_replace, no shuffle. The oracle
    * re-runs the identical RE2-safe patterns in DuckDB. */
  gate("q_pii_redact", Budget(1),
    """WITH withpii AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com call +1 ' ||
      |    (doc_id % 900 + 100) || '-' || (doc_id % 800 + 101) || '-' || (doc_id % 9000 + 1000) ||
      |    ' ssn ' || (doc_id % 900 + 100) || '-' || (doc_id % 89 + 10) || '-' || (doc_id % 9000 + 1000) ||
      |    ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) AS text
      |  FROM documents
      |)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      |    '(\+\d{1,2}[ ])?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
      |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |     + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
      |     + len(regexp_extract_all(text, '(\+\d{1,2}[ ])?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))
      |     + len(regexp_extract_all(text, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_pii
      |FROM withpii ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Scrub
    val docs = t(s, dir, "documents").df
    val withPii = docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com call +1 "),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 800 + 101).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" ssn "),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 89 + 10).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string")).as("text"))
    Scrub.redactTable(withPii, "text")
      .select(col("doc_id"), col("text").as("redacted"), col("n_pii"))
      .orderBy(col("doc_id"))
  }

  /** Shared artifact snippets for q_encoding_scan: defined ONCE and used
    * by both the Spark construction and the interpolated oracle SQL, so
    * the scanned byte sequences are identical by construction. */
  private val mojiSnippet = " cafÃ© â€™"

  private val specialSnippet = " <|endoftext|> [SEP]"

  /** Encoding/tokenization hygiene scan: deterministic artifacts
    * (mojibake, a C0 control char, leaked tokenizer special tokens) are
    * appended to id-selected docs — the q_pii_redact idiom for structure
    * the synthetic corpus lacks — then counted per doc by the Scrub
    * patterns; one codegen'd map pass, no shuffle. */
  gate("q_encoding_scan",
    // scan is map-side; the 1 is the output ORDER BY
    Budget(1),
    s"""WITH w AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 5 = 0 THEN '$mojiSnippet' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '$specialSnippet' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END AS text
      |  FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '${graft.operators.Scrub.mojibake}')) AS INTEGER) AS n_mojibake,
      |    CAST(len(regexp_extract_all(text, '${graft.operators.Scrub.controlChars}')) AS INTEGER) AS n_ctrl,
      |    CAST(len(regexp_extract_all(text, '${graft.operators.Scrub.specialTokens}')) AS INTEGER) AS n_special
      |  FROM w)
      |SELECT doc_id, n_mojibake, n_ctrl, n_special,
      |  (n_mojibake + n_ctrl + n_special = 0) AS is_clean
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Scrub
    val withArt = t(s, dir, "documents").df.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(mojiSnippet)).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(specialSnippet)).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\u0007")).otherwise(lit("")))
        .as("text"))
    Scrub.encodingArtifacts(withArt, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Balanced training-shard assignment (longest-first round-robin over
    * the value-keyed global rank) at 16 shards: per-shard doc count,
    * char sum, and smallest doc id — all three pin the assignment. */
  gate("q_shard_assign", Budget(3),
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents
      |)
      |SELECT CAST((rn - 1) % 16 AS INT) AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_doc
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.Split
    Split.shardBySize(
        t(s, dir, "documents").df.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", nShards = 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("shard"))
  }

  /** DSIR importance scores against the English slice as target: every
    * doc's exact integer micro-nat log-likelihood-ratio score (md5-prefix
    * buckets, add-1 smoothing, floor-quantized weights — the whole
    * reduction is integer arithmetic, so the oracle matches bit-for-bit
    * despite the ln in the weight formula). */
  gate("q_dsir_scores", Budget(7),
    """WITH rw AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents
      |), pairs AS (
      |  SELECT doc_id, substr(md5(w), 1, 2) AS b FROM rw WHERE w <> ''
      |), tw AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE lang = 'en'
      |), tpairs AS (
      |  SELECT substr(md5(w), 1, 2) AS b FROM tw WHERE w <> ''
      |), ht AS (SELECT b, count(*) AS ct FROM tpairs GROUP BY b),
      |hr AS (SELECT b, count(*) AS cr FROM pairs GROUP BY b),
      |w AS (
      |  SELECT coalesce(ht.b, hr.b) AS b,
      |    CAST(floor(1000000.0 *
      |      (ln((coalesce(ct, 0) + 1) / ((SELECT count(*) FROM tpairs) + 256.0))
      |     - ln((coalesce(cr, 0) + 1) / ((SELECT count(*) FROM pairs) + 256.0))))
      |      AS BIGINT) AS w_micro
      |  FROM ht FULL JOIN hr ON ht.b = hr.b
      |)
      |SELECT p.doc_id,
      |  count(*) AS n_tokens,
      |  CAST(sum(w.w_micro) AS BIGINT) AS score_micro
      |FROM pairs p JOIN w ON p.b = w.b
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    val docs = t(s, dir, "documents").df
    Curate.dsirScores(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Perplexity-proxy fluency scores: hashed-bigram LM trained on the
    * corpus itself, every doc's exact integer micro-nat log-probability
    * (add-1 smoothing over 256 buckets; floor-quantized weights make the
    * per-doc reduction integer-exact despite the ln). */
  gate("q_lm_score",
    // 2× ensureParallelism (train+score legs) + C₂ agg + C₁ agg +
    // per-doc groupBy + output ORDER BY; both model joins broadcast
    Budget(6),
    """WITH tl AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, substr(md5(unnest(ws)), 1, 2) AS b,
      |    generate_subscripts(ws, 1) AS i
      |  FROM tl
      |), bg AS (
      |  SELECT a.doc_id, a.b AS x, c.b AS y
      |  FROM toks a JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 1
      |), c2 AS (SELECT x, y, count(*) AS c2 FROM bg GROUP BY x, y),
      |c1 AS (SELECT x, sum(c2) AS c1 FROM c2 GROUP BY x),
      |w AS (
      |  SELECT x, y,
      |    CAST(floor(1000000.0 * ln((c2 + 1) / (c1 + 256.0))) AS BIGINT) AS wm
      |  FROM c2 JOIN c1 USING (x))
      |SELECT bg.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(w.wm) AS BIGINT) AS logprob_micro
      |FROM bg JOIN w ON bg.x = w.x AND bg.y = w.y
      |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    val docs = t(s, dir, "documents").df
    Curate.lmScores(docs, docs, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** CROSS-CORPUS perplexity gate — train on the English slice, score
    * EVERY document: non-English docs carry hashed-bigram transitions
    * (and at least one leading bucket) absent from the model, so BOTH
    * smoothed-floor fallbacks (`coalesce(__c2, 0)`, `coalesce(__c1, 0)`)
    * are exercised under the DuckDB oracle — the same-corpus q_lm_score
    * can never reach them (verified: 9 unseen pairs, 1 unseen x at
    * sf0.01). */
  gate("q_lm_score_cross",
    // q_lm_score minus one leg: train filters the SAME ensureParallelism
    // scan (en slice), so 2× leg + C₂ + C₁ + per-doc groupBy + output
    // ORDER BY = 6, unchanged from q_lm_score; model joins broadcast
    Budget(6),
    """WITH tl AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, lang, substr(md5(unnest(ws)), 1, 2) AS b,
      |    generate_subscripts(ws, 1) AS i
      |  FROM tl
      |), bg AS (
      |  SELECT a.doc_id, a.lang, a.b AS x, c.b AS y
      |  FROM toks a JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 1
      |), c2 AS (
      |  SELECT x, y, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY x, y
      |), c1 AS (SELECT x, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY x)
      |SELECT bg.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CAST(floor(1000000.0 * ln((coalesce(c2.c2, 0) + 1) /
      |    (coalesce(c1.c1, 0) + 256.0))) AS BIGINT)) AS BIGINT)
      |    AS logprob_micro
      |FROM bg
      |LEFT JOIN c2 ON bg.x = c2.x AND bg.y = c2.y
      |LEFT JOIN c1 ON bg.x = c1.x
      |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    val docs = t(s, dir, "documents").df
    Curate.lmScores(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** END-TO-END curation pipeline in ONE declarative plan — the
    * integration gate: quality filter → exact content dedup (keep
    * first) → per-source cap (100 longest) → token-budget cut (best
    * 10k tokens, longest-first) → sequence-packing index at context
    * 512. Every stage is an existing oracle-gated operator; the point
    * is that the WHOLE funnel composes into one Catalyst plan (the
    * quality filter reaches the scan, dedup/cap windows key on distinct
    * columns, the budget + pack cumsums share the bucketed-window
    * idiom) and the end result still bit-matches a five-CTE oracle. */
  gate("q_pipeline_e2e",
    // five-stage funnel in one plan: dedup window (content key) + cap
    // window (source) + budget bucket-window + pack bucket-window +
    // output ORDER BY — one exchange each, filters fused into the scan
    Budget(5),
    """WITH f AS (
      |  SELECT doc_id, source, n_chars, text FROM documents
      |  WHERE n_chars BETWEEN 20 AND 2000 AND length(trim(text)) > 0
      |), dd AS (
      |  SELECT doc_id, source, n_chars, text FROM (
      |    SELECT f.*, row_number() OVER (
      |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      ORDER BY doc_id) AS rn FROM f)
      |  WHERE rn = 1
      |), cap AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text, row_number() OVER (
      |      PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn FROM dd)
      |  WHERE rn <= 100
      |), sized AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM cap
      |), bud AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
      |  FROM sized
      |), sel AS (
      |  SELECT doc_id, n_tokens FROM bud WHERE tb < 10000
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      |  FROM sel)
      |SELECT doc_id, n_tokens, tok_offset,
      |  tok_offset // 512 AS first_seq,
      |  (tok_offset + n_tokens - 1) // 512 AS last_seq
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.core.SortKey
    import graft.operators.{Chunk, Curate, Dedup}
    val docs = t(s, dir, "documents").df
      .filter(col("n_chars").between(20, 2000) &&
        length(trim(col("text"))) > 0)
    val deduped = Dedup.exact(docs, Dedup.contentKey(col("text")),
        Seq(col("doc_id")), keyName = "__fp").drop("__fp")
    val capped = Curate.capPerGroup(GTable(deduped, "d"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id")), k = 100).df
    val sized = capped.select(col("doc_id"), col("source"), col("text"),
      graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    val budgeted = Curate.selectByBudget(sized,
        Seq(SortKey(col("n_tokens"), asc = false), SortKey(col("doc_id"))),
        "n_tokens", budget = 10000L)
      .drop("n_tokens", "tok_before")
    Chunk.packIndex(budgeted, "doc_id", "text", contextLen = 512)
      .orderBy(col("doc_id"))
  }

  /** Link-graph authority scoring: a deterministic synthetic citation
    * graph over the corpus (two modular out-links per doc, the house
    * idiom for structure the synthetic tables lack), ranked by 3
    * iterations of integer-exact damped PageRank — every rank a BIGINT
    * micro-mass, bit-identical across engines. */
  gate("q_pagerank",
    // node-set distinct + outdeg agg + edge-degree join exchange +
    // 3 × per-round groupBy(dst) + output ORDER BY; the per-round rank
    // joins broadcast at this SF, the node/edge frames are persisted
    Budget(7),
    """WITH ids AS (SELECT doc_id FROM documents),
      |mx AS (SELECT max(doc_id) + 1 AS m FROM ids),
      |sc AS (SELECT greatest(1000000, 100 * m) AS s FROM mx),
      |e0 AS (
      |  SELECT doc_id AS src, (doc_id*7 + 3) % (SELECT m FROM mx) AS dst FROM ids
      |  UNION ALL
      |  SELECT doc_id, (doc_id*13 + 5) % (SELECT m FROM mx) FROM ids),
      |edges AS (
      |  SELECT src, dst FROM e0 JOIN ids ON e0.dst = ids.doc_id
      |  WHERE src <> dst),
      |nodes AS (SELECT DISTINCT node FROM (
      |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |r0 AS (SELECT node, (SELECT s FROM sc) // (SELECT n FROM nn) AS r FROM nodes),
      |i1 AS (
      |  SELECT nodes.node,
      |    (15 * (SELECT s FROM sc)) // (100 * (SELECT n FROM nn)) +
      |    (85 * coalesce(s.mass, 0)) // 100 AS r
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(p.r // od.outdeg) AS BIGINT) AS mass
      |    FROM edges e JOIN r0 p ON e.src = p.node JOIN od ON od.src = e.src
      |    GROUP BY e.dst) s USING (node)),
      |i2 AS (
      |  SELECT nodes.node,
      |    (15 * (SELECT s FROM sc)) // (100 * (SELECT n FROM nn)) +
      |    (85 * coalesce(s.mass, 0)) // 100 AS r
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(p.r // od.outdeg) AS BIGINT) AS mass
      |    FROM edges e JOIN i1 p ON e.src = p.node JOIN od ON od.src = e.src
      |    GROUP BY e.dst) s USING (node)),
      |i3 AS (
      |  SELECT nodes.node,
      |    (15 * (SELECT s FROM sc)) // (100 * (SELECT n FROM nn)) +
      |    (85 * coalesce(s.mass, 0)) // 100 AS r
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS node, CAST(sum(p.r // od.outdeg) AS BIGINT) AS mass
      |    FROM edges e JOIN i2 p ON e.src = p.node JOIN od ON od.src = e.src
      |    GROUP BY e.dst) s USING (node))
      |SELECT node, CAST(r AS BIGINT) AS rank_micro
      |FROM i3 ORDER BY node""".stripMargin) { (s, dir) =>
    import graft.operators.LinkGraph
    val ids = t(s, dir, "documents").df.select(col("doc_id"))
    val mRow = ids.agg(max(col("doc_id"))).head()
    require(!mRow.isNullAt(0), "documents table is empty (or doc_id " +
      "all-null) — no citation graph to rank")
    val m = mRow.getLong(0) + 1
    val e0 = ids.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % m).as("dst"))
      .unionByName(ids.select(col("doc_id").as("src"),
        ((col("doc_id") * 13 + 5) % m).as("dst")))
      .filter(col("src") =!= col("dst"))
    val edges = e0.join(ids.select(col("doc_id").as("dst")), "dst")
    // scale grows with the corpus: the operator requires >= 100 micro-units
    // of initial mass per node, and m (max doc_id + 1) bounds the node
    // count — a fixed 1e6 would hard-fail the first SF over 10k docs
    LinkGraph.pageRankMicro(edges, "src", "dst", iters = 3,
        scale = math.max(1000000L, 100L * m))
      .orderBy(col("node"))
  }

  /** Per-domain top-fraction quality cut: best 20% of each source by
    * n_chars (doc_id tie-break) — row-for-row equal to the per-group
    * rank law, computed via the histogram idiom (no per-group
    * row-count window). */
  gate("q_top_fraction",
    // histogram agg + histogram-window exchange + output ORDER BY; the
    // join back and the tie window reuse the histogram exchange
    Budget(3),
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source, n_chars FROM r
      |WHERE rn <= CAST(ceil(0.2 * n) AS BIGINT)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    Curate.topFractionPerGroup(
        t(s, dir, "documents").df.select(col("doc_id"), col("source"),
          col("n_chars")),
        Seq("source"), "n_chars", "doc_id", fraction = 0.2)
      .orderBy(col("doc_id"))
  }

  /** Per-source token-budget cut: every source gets 3000 tokens, filled
    * best-n_chars-first (doc_id tie-break), concat-and-cut admission —
    * the domain-mixing primitive, via the histogram idiom (no per-group
    * cumsum window over rows). */
  gate("q_budget_per_group",
    // ensureParallelism-free variant of the q_top_fraction shape with an
    // intra-cell cumsum leg: histogram agg + histogram-window exchange +
    // straddle-cell window exchange + output ORDER BY
    Budget(4),
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE length(trim(text)) > 0
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
      |  FROM d)
      |SELECT doc_id, source, n_tokens FROM c
      |WHERE tb < 3000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    val d = t(s, dir, "documents").df
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    Curate.budgetPerGroup(d, Seq("source"), "n_chars", "doc_id",
        "n_tokens", budget = 3000L)
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget selection: documents ranked longest-first (n_tokens
    * desc, doc_id tie-break), admitted while their exclusive token
    * offset starts inside a 15k-token budget — the fixed-compute
    * "best N tokens" cut, exact at every SF (the cut point moves, the
    * semantics don't). */
  gate("q_token_budget",
    // bucketed-window exchange (the two-level prefix sum) + output
    // ORDER BY; the per-bucket prefix frame joins broadcast
    Budget(2),
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE length(trim(text)) > 0
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
      |  FROM d)
      |SELECT doc_id, n_tokens, tok_before
      |FROM c WHERE tok_before < 15000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.core.SortKey
    import graft.operators.Curate
    val d = t(s, dir, "documents").df
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    Curate.selectByBudget(d,
        Seq(SortKey(col("n_tokens"), asc = false), SortKey(col("doc_id"))),
        "n_tokens", budget = 15000L, offsetName = "tok_before")
      .orderBy(col("doc_id"))
  }

  /** Classifier quality filtering (inference side): every vector's exact
    * integer micro-logit under a fixed linear probe `w·x + b` plus its
    * keep decision at p ≥ 0.5 (logit ≥ 0). The dot product promotes
    * floats to double and sums sequentially on both engines, and the
    * floor-quantized micro-logit makes the gate integer-exact. */
  gate("q_classifier_score",
    // inference is map-side; the 1 is the output ORDER BY
    Budget(1),
    """WITH w AS (
      |  SELECT list(((7*i+3)%11 - 5)/10.0 ORDER BY i) AS wv
      |  FROM generate_series(0,63) t(i))
      |SELECT vec_id,
      |  CAST(floor(1000000.0 *
      |    (list_dot_product(embedding::DOUBLE[], w.wv) + 0.1)) AS BIGINT)
      |    AS logit_micro,
      |  (list_dot_product(embedding::DOUBLE[], w.wv) + 0.1) >= 0 AS kept
      |FROM embeddings CROSS JOIN w
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import graft.operators.Curate
    val w = Array.tabulate(64)(i => ((7 * i + 3) % 11 - 5) / 10.0)
    Curate.classifierScore(t(s, dir, "embeddings").df, "embedding",
        w, bias = 0.1, outCol = "__logit")
      .select(col("vec_id"),
        floor(lit(1e6) * col("__logit")).cast("long").as("logit_micro"),
        (col("__logit") >= 0).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Token-length bucketing at boundaries 30/45/60: per-bucket doc count,
    * token range, and pad-to-bucket-max waste. */
  gate("q_length_buckets", Budget(2),
    """WITH n AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens < 30 THEN 0 WHEN n_tokens < 45 THEN 1
      |         WHEN n_tokens < 60 THEN 2 ELSE 3 END AS bucket
      |  FROM n
      |)
      |SELECT bucket, count(*) AS n_docs,
      |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_waste
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    import graft.operators.Chunk
    Chunk.lengthBuckets(t(s, dir, "documents").df, "doc_id", "text",
        boundaries = Seq(30, 45, 60))
      .orderBy(col("bucket"))
  }

  /** L2-normalized embeddings, exploded to (vec_id, i, x) rows — pins
    * every element bit-exactly without array-typed gate output. */
  gate("q_embed_normalize", Budget(1),
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT vec_id,
      |  unnest(generate_series(0, len(v) - 1)) AS i,
      |  unnest(list_transform(v, x -> x / nrm)) AS x
      |FROM n ORDER BY vec_id, i""".stripMargin) { (s, dir) =>
    import graft.functions.VectorExpressions.vec_l2_normalize
    t(s, dir, "embeddings").df
      .select(col("vec_id"),
        posexplode(vec_l2_normalize(col("embedding"))))
      .select(col("vec_id"), col("pos").as("i"), col("col").as("x"))
      .orderBy(col("vec_id"), col("i"))
  }

  /** Symmetric int8 quantization (floor, clamp ±128/127) at per-vector
    * 127/maxAbs scale, exploded to (vec_id, i, q). */
  gate("q_embed_quantize", Budget(1),
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), s AS (
      |  SELECT vec_id, v,
      |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 0.0
      |         ELSE 127.0 / list_max(list_transform(v, x -> abs(x))) END AS scale
      |  FROM e)
      |SELECT vec_id,
      |  unnest(generate_series(0, len(v) - 1)) AS i,
      |  unnest(list_transform(v,
      |    x -> CAST(greatest(-128.0, least(127.0, floor(x * scale))) AS INTEGER))) AS q
      |FROM s ORDER BY vec_id, i""".stripMargin) { (s, dir) =>
    import graft.functions.VectorExpressions.vec_quantize_int8
    t(s, dir, "embeddings").df
      .select(col("vec_id"),
        posexplode(vec_quantize_int8(col("embedding"))))
      .select(col("vec_id"), col("pos").as("i"), col("col").cast("int").as("q"))
      .orderBy(col("vec_id"), col("i"))
  }

  /** Weighted corpus mixing (training-data assembly): two sources at
    * weights 3:1 toward 4n target rows → exactly 3 and 1 whole epochs
    * per source (0.75/0.25 are exact binary fractions, so the rate
    * arithmetic has no Bernoulli remainder and the mix is fully
    * deterministic — the seeded fractional path is MixSpec's job). */
  gate("q_mix_weighted", Budget(2),
    """SELECT doc_id, source, n_copies FROM (
      |  SELECT doc_id, 'corpus_a' AS source, CAST(3 AS BIGINT) AS n_copies
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'corpus_b', CAST(1 AS BIGINT) FROM documents)
      |ORDER BY doc_id, source""".stripMargin) { (s, dir) =>
    import graft.operators.Mix
    val docs = t(s, dir, "documents")
    val n = docs.df.count()
    Mix.weightedMix(Seq(
        docs.cloneTable("corpus_a") -> 3.0,
        docs.cloneTable("corpus_b") -> 1.0),
      targetRows = 4 * n)
      .df.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_copies"))
      .orderBy(col("doc_id"), col("source"))
  }

  /** TEMPERATURE mixing gate (alpha = 0.5 over a full corpus and a
    * 5x-smaller slice): the deterministic mixture footprint — per source,
    * the distinct docs mixed in and their total chars (epochs >= 1 for
    * both sources by construction, so every doc appears) — is emitted;
    * the Bernoulli remainder realization is checked IN-PLAN against the
    * plan's expected rate·n within 5 sd (the house idiom for
    * approximate-realization operators: statistics gated, never
    * emitted). */
  gate("q_mix_temperature", Budget(5,
      bnlj = Some("realization gate join: build side is exactly ONE broadcast row (the per-source tolerance check)")),
    """SELECT source, n_docs, total_chars FROM (
      |  SELECT 'corpus_big' AS source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT 'corpus_small', CAST(count(*) AS BIGINT),
      |    CAST(sum(n_chars) AS BIGINT)
      |  FROM documents WHERE doc_id % 5 = 0)
      |ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.operators.Mix
    val docs = t(s, dir, "documents")
    val big = docs.cloneTable("corpus_big")
    val small = GTable(docs.df.filter(col("doc_id") % 5 === 0), "corpus_small")
    // count each source ONCE and hand the sizes to the mixer — the gate
    // otherwise pays a redundant full-corpus count job
    val n = docs.df.count()
    val nSmall = small.df.count()
    val (mixed, plan) = Mix.temperatureMix(Seq(big, small), alpha = 0.5,
      targetRows = 2 * n, knownCounts = Some(Seq(n, nSmall)))
    val bounds = plan.map { case (name, ni, _, rate) =>
      (name, rate * ni, 2.5 * math.sqrt(ni.toDouble) + 1.0)
    }
    val boundDf = s.createDataFrame(bounds).toDF("source", "__exp", "__tol")
    val gate = mixed.df.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("__realized"))
      .join(broadcast(boundDf), "source")
      .agg(((sum(when(abs(col("__realized") - col("__exp")) <= col("__tol"), 1)
          .otherwise(0)) === count(lit(1))) &&
        (count(lit(1)) === lit(bounds.size))).as("__ok"))
    mixed.df.groupBy(col("source"), col("doc_id"))
      .agg(min(col("n_chars")).as("__nc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nc")).as("total_chars"))
      .crossJoin(broadcast(gate)).filter(col("__ok"))
      .select(col("source"), col("n_docs"), col("total_chars"))
      .orderBy(col("source"))
  }

  /** Gopher/RefinedWeb repetition signal: intra-document duplicate
    * word/2-gram/3-gram fractions (raw doubles — integer-derived
    * division is bit-exact vs the oracle). */
  gate("q_repetition", Budget(1),
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
      |), g AS (
      |  SELECT doc_id, ws,
      |    list_transform(generate_series(1, greatest(len(ws)-1, 0)),
      |      i -> ws[i] || ' ' || ws[i+1]) AS g2,
      |    list_transform(generate_series(1, greatest(len(ws)-2, 0)),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
      |  FROM docs)
      |SELECT doc_id,
      |  CASE WHEN len(ws) > 0
      |    THEN CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws)
      |    ELSE 0.0 END AS dup_word_frac,
      |  CASE WHEN len(g2) > 0
      |    THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
      |    ELSE 0.0 END AS dup_2gram_frac,
      |  CASE WHEN len(g3) > 0
      |    THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
      |    ELSE 0.0 END AS dup_3gram_frac
      |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents").df.select(
      col("doc_id"),
      TextAnalysis.dupNgramFraction(col("text"), 1).as("dup_word_frac"),
      TextAnalysis.dupNgramFraction(col("text"), 2).as("dup_2gram_frac"),
      TextAnalysis.dupNgramFraction(col("text"), 3).as("dup_3gram_frac"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Multimodal columns (binary payload + metadata + batched decode stub)
  // ------------------------------------------------------------------

  /** Binary payload + typed metadata struct. */
  gate("q_multimodal_meta", Budget(1),
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.attachBinary(t(s, dir, "documents").df, "doc_id", "text")
      .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.checksum").as("checksum"))
      .orderBy(col("doc_id"))
  }

  /** Batched decode via mapPartitions (the mapInPandas shape) — decoder
    * stubbed deterministically, plumbing real. */
  gate("q_multimodal_features", Budget(1),
    """SELECT doc_id,
      |  CAST(64 + (octet_length(encode(text)) % 576) AS INTEGER) AS width,
      |  CAST(64 + ((octet_length(encode(text)) * 7) % 416) AS INTEGER) AS height,
      |  CAST(list_sum(list_transform(string_split(text,''), x -> unicode(x))) AS DOUBLE)
      |    / CAST(octet_length(encode(text)) AS DOUBLE) AS mean_intensity
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bin = Multimodal.attachBinary(t(s, dir, "documents").df, "doc_id", "text")
    Multimodal.extractFeatures(bin, "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Frame-sampling stub: one row per (media, frame). */
  gate("q_frame_sample", Budget(2),
    """WITH f AS (
      |  SELECT doc_id,
      |    greatest(CAST(floor(octet_length(encode(text))/256.0) AS BIGINT), 1)
      |      AS n_frames
      |  FROM documents)
      |SELECT doc_id, n_frames,
      |  CAST(256 * (n_frames * (n_frames - 1) / 2) AS BIGINT) AS sum_off
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bin = Multimodal.attachBinary(t(s, dir, "documents").df, "doc_id", "text")
    Multimodal.frameSample(bin, "doc_id", everyNBytes = 256)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("frame_offset")).as("sum_off"))
      .orderBy(col("doc_id"))
  }
}
