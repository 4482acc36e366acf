package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Sources

/** The STAGED-GENERATION protocol — the one owner of the `__next` /
  * `__next_basis` format behind every serving-artifact compaction (IVF,
  * PQ, LSH, BM25, the sketch cube and the near-dup shingle index): the
  * next generation is built in full beside the live one, which keeps
  * serving, and promoted by metadata-only swaps
  * ([[graft.sources.Sources.promoteTable]]). It is the batch twin of
  * [[Segments]]; each family supplies only its rewrite and its catch-up
  * admit.
  *
  *  - NAMES: an [[Artifact]] has data `parts` (staged as
  *    `<part>__next`) and constants `siblings` (staged as
  *    `<table>__next<sfx>`, live `<table><sfx>`); the basis is
  *    `<table>__next_basis` and the tombstones `<table>_deleted`.
  *  - BUILD ([[buildNext]]): list every part's live files and snapshot
  *    the tombstone files, run the family's rewrite over exactly those
  *    files minus exactly those ids into the staged tables, and write
  *    the basis LAST. A failed build drops every staged table and the
  *    basis; the live generation was never touched.
  *  - BASIS: one table `(proj, file, vec_col)`. `proj ≥ 0` rows are
  *    the live files part `proj`'s rewrite consumed; the one `proj = -1`
  *    row carries the build token in `file` and the build's vector
  *    column; `proj = -2` rows are the consumed tombstone files. A
  *    staged build without a basis (torn, or built before the basis
  *    existed) promotes by the plain swap: no catch-up, no retire.
  *  - CATCH-UP: before the swap, rows admitted into the live artifact
  *    after the build's listing — the files of each part not in the
  *    basis, and, with a `segDir`, the complete unledgered segments —
  *    go through the family's admit into the staged part (IVF and PQ
  *    re-assign with the new generation's constants; the others copy
  *    verbatim). Segments fold through the [[Segments]] ledger; the
  *    consumed files commit into the basis after their append, so a
  *    retry skips what already landed (the window between the append
  *    and that commit re-admits: exact duplicates, the id discipline
  *    of every append path).
  *  - SWAP ORDER: siblings first (centroids, codebooks, meta), then the
  *    parts in order (each LSH projection). Between two swaps new rows
  *    may serve with old constants — the maintenance window's
  *    between-promotes class, healed by a rerun.
  *  - POST-SWAP: the family's cache invalidation, then
  *    [[Tombstones.retireConsumed]] of the basis's `-2` files, then the
  *    basis drop. The basis is dropped last, so it is the record that
  *    post-swap work is pending.
  *  - RESUME: the last swap's staged table (the GATE) gone while the
  *    basis is present means a promote crashed after its swap: the
  *    rerun skips the catch-up and finishes the post-swap steps (and
  *    any swap left half done). It never calls `promoteTable` on a
  *    staged table that is gone. The pre-swap step (BM25's stats
  *    subtraction) runs on resume too, so it must be idempotent on its
  *    own (BM25 guards it with the build token). Gate gone and no basis
  *    fails fast: there is nothing to promote. */
private[graft] object Generations {

  /** One artifact's generation layout: `table` names the basis and the
    * tombstone sibling, `parts` are the data tables whose files a build
    * pins and a promote catches up (basis `proj` = index), `siblings`
    * the suffixes of constants tables that swap before the parts. */
  final case class Artifact(table: String, parts: Seq[String],
      siblings: Seq[String] = Nil) {
    def basis: String = s"${table}__next_basis"
    def staged(p: Int): String = s"${parts(p)}__next"
    /** (staged, live) in swap order: siblings, then parts. */
    def swaps: Seq[(String, String)] =
      siblings.map(s => (s"${table}__next$s", s"$table$s")) ++
        parts.indices.map(p => (staged(p), parts(p)))
    /** The newest copy of sibling `sfx`: the staged one until it swaps. */
    def newest(spark: SparkSession, sfx: String): String =
      if (spark.catalog.tableExists(s"${table}__next$sfx"))
        s"${table}__next$sfx"
      else s"$table$sfx"
  }

  /** A committed basis: the consumed `(proj, file)` set, the build's
    * vector column, the consumed tombstone files and the token. */
  final case class Basis(files: Set[(Int, String)], vecCol: String,
      tombFiles: Seq[String], token: String)

  /** A build in progress: the pinned input of each part. */
  final class Build private[Generations] (spark: SparkSession,
      a: Artifact, files: Seq[Seq[String]], val tombFiles: Seq[String]) {
    /** Part `p`'s pinned files minus the snapshot's tombstoned ids. */
    def input(p: Int): DataFrame = Tombstones.maskByFiles(spark,
      if (files(p).isEmpty) spark.table(a.parts(p))
      else read(spark, a.parts(p), files(p)), tombFiles)
  }

  /** Re-admits rows into staged part `proj`: a diffed file set, or (part
    * 0) folded segments. */
  type Admit = (Int, DataFrame, Basis) => Unit

  /** Build the next generation of `a` (see the BUILD step above). */
  def buildNext(spark: SparkSession, a: Artifact, vecCol: String = "")(
      rewrite: Build => Unit): Unit = {
    val files = a.parts.map(Sources.tableDataFiles(spark, _))
    val tombFiles = Tombstones.snapshotFiles(spark, a.table)
    try {
      rewrite(new Build(spark, a, files, tombFiles))
      writeBasis(spark, a.basis, Basis(
        files.zipWithIndex.flatMap { case (fs, p) => fs.map(p -> _) }.toSet,
        vecCol, tombFiles, java.util.UUID.randomUUID().toString))
    } catch {
      case e: Throwable =>
        (a.swaps.map(_._1) :+ a.basis).foreach(Sources.replaceTable(spark, _))
        throw e
    }
  }

  /** Promote the staged generation of `a` (catch-up, swaps, post-swap
    * steps, or the resume — see the scaladoc above). */
  def promote(spark: SparkSession, a: Artifact,
      segDir: Option[String] = None, admit: Admit = (_, _, _) => (),
      preSwap: Basis => Unit = _ => (),
      afterSwap: () => Unit = () => ()): Unit = {
    val basis = readBasis(spark, a.basis)
    val resume = !spark.catalog.tableExists(a.swaps.last._1)
    require(!resume || basis.nonEmpty,
      s"no staged generation to promote for '${a.table}' — build it " +
        "first (its buildNext*, or its compact*)")
    val b = if (resume) basis else basis.map(catchUp(spark, a, _, segDir, admit))
    b.foreach(preSwap)
    // a swap whose staged table is gone already happened: only the
    // rename promote's resume branch (partition re-list, retired-debris
    // drop) is left, in either regime — never the location swap, which
    // requires the staged table
    a.swaps.foreach { case (staged, live) =>
      if (spark.catalog.tableExists(staged))
        Sources.promoteTable(spark, staged, live)
      else Sources.promoteTableByRename(spark, staged, live)
    }
    afterSwap()
    b.foreach(x => Tombstones.retireConsumed(spark, a.table, x.tombFiles))
    Sources.replaceTable(spark, a.basis)
  }

  private def catchUp(spark: SparkSession, a: Artifact, basis: Basis,
      segDir: Option[String], admit: Admit): Basis = {
    segDir.foreach(d => Segments.foldInto(spark, a.table, d)(segs =>
      admit(0, Segments.read(spark, d, segs), basis)))
    val consumed = a.parts.indices
      .filter(p => spark.catalog.tableExists(a.staged(p)))
      .flatMap { p =>
        val delta = Sources.tableDataFiles(spark, a.parts(p))
          .filterNot(f => basis.files.contains((p, f)))
        if (delta.nonEmpty) admit(p, read(spark, a.parts(p), delta), basis)
        delta.map(p -> _)
      }
    if (consumed.isEmpty) basis
    else {
      val grown = basis.copy(files = basis.files ++ consumed)
      writeBasis(spark, a.basis, grown)
      grown
    }
  }

  /** Exactly `files` of live `table`, read with the table's own schema:
    * a partitioned read through `basePath` would otherwise re-infer the
    * partition columns' types from directory names, and a generation
    * must never drift a column type. */
  private def read(spark: SparkSession, table: String,
      files: Seq[String]): DataFrame = {
    val schema = spark.table(table).schema
    Sources.conformTo(spark.read.schema(schema)
      .option("basePath", Sources.tableLocationOf(spark, table))
      .parquet(files: _*), schema)
  }

  private[graft] def writeBasis(spark: SparkSession, table: String,
      b: Basis): Unit = {
    import spark.implicits._
    Sources.replaceTable(spark, table)
    ((-1, b.token) +: (b.tombFiles.map(-2 -> _) ++ b.files.toSeq))
      .map { case (p, f) => (p, f, b.vecCol) }
      .toDF("proj", "file", "vec_col")
      .write.mode("overwrite").format("parquet")
      .options(Sources.stagedWriteOptions(spark, table))
      .saveAsTable(table)
  }

  /** The committed basis, or None when there is none (one collect). */
  private[graft] def readBasis(spark: SparkSession,
      table: String): Option[Basis] =
    if (!spark.catalog.tableExists(table)) None
    else {
      val rows = spark.table(table).collect()
      def of(p: Int => Boolean) = rows.filter(r => p(r.getInt(0)))
      rows.find(_.getInt(0) == -1).map(meta => Basis(
        of(_ >= 0).map(r => (r.getInt(0), r.getString(1))).toSet,
        meta.getString(2), of(_ == -2).map(_.getString(1)).toSeq,
        meta.getString(1)))
    }
}
