package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Training-sequence preparation: slice documents into fixed-size token
  * windows with a stride (overlap = windowTokens − stride), the standard
  * context-window chunking step before tokenized sequence packing.
  *
  * Scale shape: pure map-side — tokenize, compute the window count from
  * the token count, `posexplode` the window starts, slice. No shuffle at
  * all; a 100 TB corpus chunks in a single scan and the output can go
  * straight to a partitioned sink.
  */
object Chunk {

  /** One-slot PERFORMANCE-cache registry per operator: pins the
    * operator's double-read exploded frame (both the aggregate and the
    * confirm-join probe read it; the broadcast-join plan has no common
    * exchange to reuse, so without a pin the full upstream re-computes
    * per input), and releases the PREVIOUS call's pin on the next call
    * — bounding cache growth at one intermediate per operator per JVM.
    * The bound matters: CacheManager holds cached plans until an
    * explicit unpersist (ContextCleaner does not prune it, and
    * MEMORY_AND_DISK blocks spill to disk rather than evict), so a
    * bare per-call `persist` would accumulate for the session's
    * lifetime. Correctness never depends on the cache for PLAN
    * equivalence — unpersisting it mid-query (a concurrent call to the
    * same operator) just sends the other query down the recompute path;
    * `sameResult` guards the repeated-identical-input case, where
    * CacheManager shares one entry between the old and new frames.
    * The sameResult discipline alone cannot cover IN-PLACE REGENERATION
    * (same source paths, new bytes): two reads of the same directory
    * `sameResult` each other (`InMemoryFileIndex` equality is by root
    * path), so CacheManager would hand the regenerated frame the
    * PRE-regeneration blocks. Each slot therefore also carries a SOURCE
    * FINGERPRINT — the sorted (input file, mtime) list, the
    * `graft.gates.Fixtures.artifactTable` idiom — and a fingerprint
    * change releases the previous pin even when `sameResult` holds,
    * forcing the fresh persist down the recompute path.
    *
    * Slots are keyed by the SparkSession OBJECT (not its identity hash
    * — a hash collision between two sessions would alias their slots),
    * so an embedder that stops one session and starts another never has
    * the new session's first call touch a DataFrame from the dead
    * context. Entries whose underlying SparkContext has stopped are
    * swept on every call — their blocks died with the context, so the
    * sweep is a plain removal, and the registry cannot leak dead
    * sessions' DataFrames for the JVM's lifetime. (A WEAK map cannot do
    * this job: the held DataFrame strongly references its session
    * through QueryExecution, so a weakly-keyed entry would never
    * collect.) The previous pin's release is best-effort — unpersist on
    * a stopped session throws, and a failed release of a dead session's
    * blocks is a no-op in practice. */
  private val cacheSlots = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), (String, DataFrame)]

  /** Per-slot monitors serializing [[pinSlot]]'s release→persist→put
    * sequence. The release must happen BEFORE the persist (CacheManager
    * ignores a persist whose plan sameResults a live entry), so the
    * atomic `put`-and-release-displaced pattern cannot work here — two
    * concurrent callers interleaving get→unpersist→persist→put could
    * instead lose an unpersist and leak the displaced frame's blocks.
    * Locks are only swept for stopped contexts (where interleaving is
    * harmless — the blocks died with the context), so a live slot keeps
    * one stable monitor for its session's lifetime. */
  private val slotLocks = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Object]

  /** Sorted (path, mtime) digest of `df`'s file-source inputs; constant
    * for purely in-memory frames (where `sameResult` is the whole
    * story). The statuses come from each relation's OWN file index —
    * the listing Spark already performed to plan the frame — so the
    * fingerprint costs zero filesystem RPCs at any file count (a
    * per-file getFileStatus here would be 100k driver round-trips on a
    * 100 TB corpus). A fresh read lists freshly, so its index's mtimes
    * are current — which is exactly the comparison the slot needs.
    * Non-partitioning-aware indexes (e.g. a catalog table's
    * CatalogFileIndex) fall back to a full `listFiles` — a real listing
    * per call, but one that still carries mtimes: a path-only
    * fingerprint would miss an in-place regeneration reproducing
    * identical file names, the exact bug class this digest closes. */
  private def sourceFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    val parts = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.flatMap {
      case fs: HadoopFsRelation =>
        fs.location match {
          case p: PartitioningAwareFileIndex =>
            p.allFiles().map(st => s"${st.getPath}@${st.getModificationTime}")
          case other => other.listFiles(Nil, Nil).flatMap(_.files)
            .map(st => s"${st.getPath}@${st.getModificationTime}")
        }
      case _ => Nil
    }.sorted
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.mkString("\n").getBytes("UTF-8")))
  }

  private def pinSlot(slot: String, df: DataFrame): DataFrame = {
    // sweep dead-context entries (blocks died with the context); the
    // lock map is swept INDEPENDENTLY — a pin that failed between
    // getOrElseUpdate and cacheSlots.put leaves a lock with no slot
    // entry, which a slots-keyed sweep would never release (pinning the
    // stopped session in the static map for the JVM lifetime)
    cacheSlots.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) cacheSlots.remove(k)
    }
    slotLocks.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) slotLocks.remove(k)
    }
    val fp = sourceFingerprint(df)
    val key = (df.sparkSession, slot)
    slotLocks.getOrElseUpdate(key, new Object).synchronized {
      // release BEFORE persist: CacheManager ignores a persist whose plan
      // sameResults an existing entry, so a stale same-plan entry must be
      // gone before the new pin registers
      cacheSlots.get(key).foreach { case (prevFp, prev) =>
        if (prevFp != fp || !prev.queryExecution.analyzed
            .sameResult(df.queryExecution.analyzed))
          try prev.unpersist(blocking = false)
          catch { case _: Exception => () } // dead session: blocks already gone
      }
      val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cacheSlots.put(key, (fp, pinned))
      pinned
    }
  }

  /** Concat-and-cut SEQUENCE PACKING index (the standard LLM training
    * prep): conceptually concatenate every document's tokens in `order`
    * and cut the stream every `contextLen` tokens. Returns one row per
    * document — `(idCol, n_tokens, tok_offset, first_seq, last_seq)` —
    * mapping it to its global token offset and the packed sequences it
    * lands in (a long doc spans several; short docs share one).
    * Zero-token documents are excluded (they contribute nothing to the
    * stream).
    *
    * Scale shape: the corpus-wide cumulative token offset uses
    * [[graft.core.Ordinals.keyedRunningTotal]] — a pure-Catalyst
    * value-keyed two-level prefix sum (order-aligned buckets + a
    * bucket-partitioned window) — NOT a global window, so no
    * single-partition exchange at any size, and the result depends only
    * on values, never on physical layout. `idCol` must be unique.
    * Downstream, workers materialize sequence s by reading docs with
    * `first_seq <= s <= last_seq` — an equi-joinable, pruning-friendly
    * index. */
  def packIndex(df: DataFrame, idCol: String, textCol: String,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val withN = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    graft.core.Ordinals.keyedRunningTotal(withN, idCol, "n_tokens", "tok_offset")
      .select(col(idCol), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $contextLen").as("first_seq"),
        expr(s"(tok_offset + n_tokens - 1) div $contextLen").as("last_seq"))
  }

  /** SEQUENCE-side view of [[packIndex]]: one row per packed sequence —
    * `(seq_id, n_docs, n_tokens, first_doc, last_doc)` — the
    * attention-boundary map a packed-pretraining loader needs (how many
    * documents share sequence `s`, where its token budget went, and the
    * doc-id range to fetch). Every sequence is exactly `contextLen`
    * tokens except the last (the stream remainder).
    *
    * Scale shape: one map-side explode of each doc's `[first_seq,
    * last_seq]` range — totalTokens/contextLen + nDocs rows, linear in
    * the corpus — then ONE groupBy(seq_id) shuffle on top of
    * [[packIndex]]'s plan. The per-(doc, seq) token overlap is interval
    * arithmetic on the offsets, no re-tokenization. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      contextLen: Int): DataFrame = {
    val L = lit(contextLen.toLong)
    packIndex(df, idCol, textCol, contextLen)
      .select(col(idCol), col("n_tokens"), col("tok_offset"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .withColumn("__tok_in_seq",
        least(col("tok_offset") + col("n_tokens"), (col("seq_id") + 1) * L) -
          greatest(col("tok_offset"), col("seq_id") * L))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok_in_seq")).as("n_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** SPAN-LEVEL exact dedup (the paragraph-dedup analogue for unstructured
    * text): cut each doc into disjoint `spanTokens`-word spans, keep each
    * distinct span text's FIRST occurrence corpus-wide (ordered by
    * (doc id, span position)), and reassemble documents from their
    * surviving spans in order. Returns `(idCol, n_spans, n_spans_kept,
    * text_kept)`; docs whose every span was seen earlier elsewhere come
    * back with `text_kept = ''`.
    *
    * Scale shape: one map-side explode; the first occurrence per span is
    * a `min(struct(id, chunk_id))` hash AGGREGATE + equi-join back — not
    * a per-key row_number window, because duplicated spans are exactly
    * the keys that go mega-frequency on a web corpus: partial
    * aggregation collapses copies map-side and AQE can skew-split the
    * confirm join, while a window would buffer every copy of the
    * hottest span on one task. One explode, the span-keyed exchange
    * (reused by both join inputs), one groupBy(doc) to reassemble. */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    // PERFORMANCE cache via the one-slot registry (see [[pinSlot]]):
    // the span explode feeds both the first-occurrence aggregate and
    // the join probe, and the regex-split + span-reassembly transform
    // dominates at small scale — recomputing it doubles the operator.
    // Results are identical without the cache.
    val spans = pinSlot("dedupSpans",
      tokenWindows(df, idCol, textCol, spanTokens, stride = spanTokens))
    val first = spans.groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"))
    spans.join(first, "chunk_text")
      .withColumn("__keep",
        struct(col(idCol), col("chunk_id")) === col("__first"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_spans_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("__keep"),
            struct(col("chunk_id"), col("chunk_text"))))),
          s => s("chunk_text")), " ").as("text_kept"))
  }

  /** SLIDING-WINDOW exact substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr step, k-gram-anchored): hash every k-token sliding
    * window of every document; a window whose content occurs more than
    * once corpus-wide is duplicated, and every NON-FIRST occurrence
    * (first = lexicographic min of (doc id, position)) has its k token
    * positions removed; documents are reassembled from the surviving
    * tokens in order. Any duplicated run of ≥ k tokens is caught — it
    * contains a duplicated k-window — and removal granularity is the
    * union of flagged windows, so a shared passage disappears from every
    * copy but its first. Returns `(idCol, n_tokens, n_removed,
    * text_kept)` for ALL input docs (untouched docs included,
    * whitespace-normalized); fully-duplicated docs come back with
    * `text_kept = ''`.
    *
    * Scale shape: window formation is pure map-side (one explode of the
    * start positions; the key is a fixed-width md5 of the joined window,
    * so shuffle width is independent of `k`). The duplicate test is a
    * `count + min(struct)` hash AGGREGATE by window key + an equi-join
    * back — never a per-key window, because duplicated windows are
    * exactly the keys that go mega-frequency on a web corpus (partial
    * aggregation collapses copies map-side; AQE skew-splits the confirm
    * join). Flagged windows explode to at most k positions each,
    * deduped in the per-doc `collect_set` (doc-bounded, never
    * corpus-bounded); reassembly is ONE groupBy-free left join + a
    * map-side segment splice: the removed positions are sorted once and
    * the kept text is the concatenation of the inter-removal slices —
    * O(tokens + removed) per document. (The previous shape filtered
    * each token with `array_contains` against the removed array,
    * O(tokens × removed): a long, heavily-duplicated document paid
    * quadratic work in a single task.) */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, "k must be >= 2 (a 1-token window is exact token dedup)")
    val toks = graft.core.Partitions.ensureParallelism(df)
      .select(col(idCol),
        coalesce(filter(TextAnalysis.words(col(textCol)), w => w =!= ""),
          array().cast("array<string>")).as("__ws"))
    // PERFORMANCE cache via the one-slot registry (see [[pinSlot]]):
    // the hashed window explode — the dominant map-side term, one md5
    // per sliding window — feeds both the duplicate-count aggregate
    // and the confirm-join probe; recomputing it doubles the operator.
    // Results are identical without the cache.
    val wins = pinSlot("dedupSubstrings", toks
      .filter(size(col("__ws")) >= k)
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(1), size(col("__ws")) - (k - 1))).as("__j"))
      .select(col(idCol), col("__j"),
        md5(array_join(slice(col("__ws"), col("__j"), lit(k)), " ")
          .cast("binary")).as("__key")))
    val firstAgg = wins.groupBy(col("__key"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("__j"))).as("__first"))
    val removed = wins.join(firstAgg, "__key")
      .filter(col("__cnt") > 1 &&
        !(struct(col(idCol), col("__j")) === col("__first")))
      .select(col(idCol), explode(sequence(col("__j"), col("__j") + (k - 1)))
        .as("__p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__rem"))
    val rem = coalesce(col("__rem"), array().cast("array<int>"))
    // splice bounds: 0, sorted removed positions, n+1 — kept text is the
    // concatenation of the strictly-between slices (each length >= 0
    // because positions are a de-duplicated set)
    val bounds = concat(array(lit(0)), sort_array(rem),
      array(size(col("__ws")) + 1))
    val kept = flatten(transform(sequence(lit(1), size(bounds) - 1),
      i => slice(col("__ws"), element_at(bounds, i) + 1,
        element_at(bounds, i + 1) - element_at(bounds, i) - 1)))
    toks.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(rem).cast("long").as("n_removed"),
        array_join(kept, " ").as("text_kept"))
  }

  /** LINE-LEVEL duplicate removal (the CCNet/RefinedWeb boilerplate
    * guard): drop EVERY copy of any line whose corpus-wide frequency
    * exceeds `maxFreq` (navigation bars, cookie banners, license
    * headers — text repeated verbatim across documents), and reassemble
    * each document from its surviving lines in order. `maxFreq = 1` is
    * strict duplicated-line removal: a line that appears anywhere else
    * in the corpus is dropped from ALL documents, including the first.
    * Returns `(idCol, n_lines, n_lines_kept, text_kept)`; documents
    * whose every line is boilerplate come back with `text_kept = ''`.
    *
    * `lineSep` is a LITERAL separator (regex-quoted for the split, used
    * verbatim for the rejoin).
    *
    * Scale shape: one map-side explode; corpus-wide line frequency is a
    * hash AGGREGATE by line + an equi-join back — deliberately NOT a
    * `count over (partition by line)` window, because this operator's
    * hot keys are BY DEFINITION mega-frequency lines (the cookie banner
    * on 10% of a 100 TB corpus): partial aggregation collapses every
    * copy map-side before the shuffle, and the confirm join is an
    * exchange AQE can skew-split, while a window would buffer every
    * copy of the hottest line on one task. One explode, the
    * line-keyed exchange (reused by both join inputs), one groupBy(doc)
    * to reassemble; nothing driver-side. */
  def removeFrequentLines(df: DataFrame, idCol: String, textCol: String,
      maxFreq: Long = 1L, lineSep: String = "\n"): DataFrame = {
    require(maxFreq >= 1, "maxFreq must be >= 1")
    require(lineSep.nonEmpty, "lineSep must be non-empty")
    // PERFORMANCE cache via the one-slot registry (see [[pinSlot]]):
    // the exploded lines feed both the frequency aggregate and the join
    // probe, and the upstream lineage (callers typically
    // split/reassemble text into lines first) dominates at small scale
    // — recomputing it doubles the operator. Results are identical
    // without the cache.
    val lines = pinSlot("removeFrequentLines", df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(lineSep))))
      .select(col(idCol), col("pos").as("line_no"), col("col").as("line"))
      .filter(length(trim(col("line"))) > 0))
    val freq = lines.groupBy(col("line")).agg(count(lit(1)).as("__freq"))
    lines.join(freq, "line")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__freq") <= maxFreq, 1L).otherwise(0L))
          .as("n_lines_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("__freq") <= maxFreq,
            struct(col("line_no"), col("line"))))),
          s => s("line")), lineSep).as("text_kept"))
  }

  /** CONTENT-DEFINED chunking (the LBFS/rsync boundary trick, token
    * granularity): a chunk boundary falls after token `j` exactly when
    * the hash of the `windowTokens`-token window ENDING at `j` is
    * `≡ 0 (mod modulus)` — so boundaries depend only on LOCAL content,
    * never on position. Insert or delete a passage and only the chunks
    * touching the edit change identity; every downstream chunk-hash
    * dedup ([[dedupSpans]]'s aggregate+join tier pointed at these chunks
    * instead of fixed spans) then survives document edits that would
    * shift every fixed-span boundary. Expected chunk length ≈ `modulus`
    * tokens (geometric); `windowTokens` is the context the boundary
    * decision sees. Returns `(idCol, chunk_id, start_tok, n_tokens,
    * chunk_text)`; zero-token docs are excluded.
    *
    * Scale shape: pure MAP-SIDE — the boundary set is array arithmetic
    * over the token array (filter over window positions, fixed-width
    * hex-parsed md5 like the Split sampling keys), chunks explode from
    * the boundary-delimited spans; no shuffle at all, straight to a
    * partitioned sink. */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 4, modulus: Int = 16): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(modulus >= 2, "modulus must be >= 2 (1 would cut every token)")
    val k = windowTokens
    val ws = coalesce(filter(TextAnalysis.words(col(textCol)), w => w =!= ""),
      array().cast("array<string>"))
    val n = size(col("__ws"))
    // boundary positions j in [k, n-1]: hash of ws[j-k+1 .. j] ≡ 0 (mod D)
    val bpos = filter(
      when(n >= k + 1, sequence(lit(k), n - 1))
        .otherwise(array().cast("array<int>")),
      j => conv(substring(md5(
          array_join(slice(col("__ws"), j - (k - 1), lit(k)), " ")
            .cast("binary")), 1, 8), 16, 10).cast("long") % modulus === 0)
    df.select(col(idCol), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("__starts",
        concat(array(lit(1)), transform(bpos, j => j + 1)))
      .withColumn("__ends", concat(bpos, array(size(col("__ws")))))
      .select(col(idCol), col("__ws"),
        posexplode(arrays_zip(col("__starts"), col("__ends"))))
      .select(col(idCol),
        col("pos").as("chunk_id"),
        col("col.__starts").as("start_tok"),
        (col("col.__ends") - col("col.__starts") + 1).as("n_tokens"),
        array_join(slice(col("__ws"), col("col.__starts"),
          col("col.__ends") - col("col.__starts") + 1), " ").as("chunk_text"))
  }

  /** Token-length bucketing for padding-efficient batch assembly: bucket
    * docs by token count at explicit `boundaries` (bucket b holds counts
    * in [boundaries(b-1), boundaries(b)), bucket 0 below the first
    * boundary, bucket N at-or-above the last), and report per-bucket
    * size and padding waste if batches pad to the bucket's observed max.
    * One map pass + one groupBy — the standard pre-batching layout step
    * that turns O(maxLen) padding into O(bucketMax). */
  def lengthBuckets(df: DataFrame, idCol: String, textCol: String,
      boundaries: Seq[Int]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      "boundaries must be ascending")
    val n = TextAnalysis.tokenCount(col(textCol)).cast("long")
    val bucket = boundaries.zipWithIndex.foldRight(lit(boundaries.size): Column) {
      case ((b, i), acc) => when(n < b, i).otherwise(acc)
    }
    df.select(col(idCol), n.as("n_tokens"), bucket.cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      // pad-to-bucket-max waste, from the aggregates alone (no window):
      // every doc pads up to the bucket's observed max
      .withColumn("pad_waste",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
  }

  /** `(idCol, chunk_id, chunk_text, n_tokens)` — one row per window.
    * Windows start every `stride` tokens; the final window may be short
    * (it keeps the tail, never drops it). Empty/whitespace-only docs
    * produce no rows. */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, stride: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(stride > 0 && stride <= windowTokens,
      "stride must be in [1, windowTokens]")
    val base = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__ws"))
      .select(col(idCol), col("__ws"), size(col("__ws")).as("__nw"))
    // extra windows beyond the first: ceil((nw - window) / stride),
    // clipped at 0. Positive-case truncation == ceil with the +stride-1
    // trick; the double division is exact at document token counts
    // (integers ≪ 2^52).
    val extra = greatest(lit(0L),
      ((col("__nw") - lit(windowTokens) + lit(stride - 1)).cast("double") /
        lit(stride.toDouble)).cast("long"))
    base
      .select(col(idCol),
        col("__ws"), col("__nw"),
        posexplode(sequence(lit(0L), extra)))
      .select(col(idCol),
        col("pos").as("chunk_id"),
        array_join(slice(col("__ws"), (col("pos") * stride + 1).cast("int"),
          lit(windowTokens)), " ").as("chunk_text"),
        least(lit(windowTokens.toLong),
          col("__nw") - col("pos") * stride).as("n_tokens"))
  }
}
