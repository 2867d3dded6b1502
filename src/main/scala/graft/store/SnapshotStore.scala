package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.graftbridge.Bridge

import graft.cdc.CdcOps
import graft.sources.Tables

/** One data file of a committed snapshot version, with its key-range
  * index entry (rows + min/max of the store's key column) and, when
  * the store declares a secondary index column, that file's Bloom
  * blob over the column's xxhash64 values. It is one line of the
  * version's TSV manifest: `path rows minKey maxKey [bloom-base64]`.
  */
final case class DataFileEntry(path: String, rows: Long, minKey: Long, maxKey: Long,
                               bloom: Option[Array[Byte]] = None)

/** Minimal table-format seam over parquet — the role Kudu plays in
  * the reference: a continuously-upserted, snapshot-readable table
  * [ref: KuduManager.scala:108-120].
  *
  * Layout under `root/`:
  *   - `data/v<N>-<attempt>/part-*.parquet` — version N's data
  *     files, range-clustered on the key so each file covers a tight
  *     key span (what makes the manifest index prune); the attempt
  *     token keeps concurrent optimistic writers out of each other's
  *     output directories (the manifest records exact paths, so
  *     readers never depend on directory naming).
  *   - `_manifests/m<N>.tsv` — version N's manifest, the one on-disk
  *     format: a header line (key, schema, rename log, txn watermark,
  *     deletion-vector tag) and then the explicit data-file list with
  *     a per-file key-range index, one [[DataFileEntry]] per line
  *     (path, rows, minKey, maxKey, and the Bloom blob when the store
  *     has a secondary index). Planning parses it on the driver.
  *   - `_deletes/dv<N>.parquet` — version N's merge-on-read deletion
  *     vector, when it has one (see [[purgeMor]]).
  *   - `LATEST` — pointer to the current version, flipped by atomic
  *     rename; commit order is data files -> manifest -> pointer, so
  *     a crash at any point leaves the previous version intact.
  *
  * Reads are SNAPSHOT-ISOLATED: the file list is resolved from one
  * manifest at DataFrame-construction time, never by directory
  * listing — a concurrent merge can add files and flip the pointer
  * without tearing an in-flight reader (vacuum retains enough
  * versions for readers to finish; see `keepVersions`). Two paths
  * serve a read. A lookup ([[readRange]], [[readPoint]]) whose planned
  * files hold at most [[SnapshotStore.LocalReadMaxRows]] rows (65 536;
  * its Scaladoc has the measured crossover) reads them on the driver
  * at CALL time, through Spark's own parquet reader, and returns a
  * local relation: collecting it starts no job, and no vacuum can
  * delete its rows under the caller. Every other read — a larger
  * lookup, [[read]], [[readVersion]], [[changes]] and the base reads
  * of the merges, purges and [[optimize]] — is a lazy Spark scan,
  * the path that keeps driver memory bounded for a large plan.
  *
  * This is deliberately the smallest honest subset of a
  * Delta/Iceberg-style format: manifest-level file skipping,
  * add-only schema evolution, and OPTIMISTIC writer concurrency —
  * every publish states the version its content was folded from and
  * the commit point aborts with [[ConcurrentCommitException]] if
  * another writer advanced the pointer first (re-read, re-fold,
  * retry — the Delta/Iceberg protocol). On a real cluster the same
  * seam is where a full table format slots in — the merge fold
  * (CdcOps.softDeleteSnapshot over base ∪ delta) is unchanged.
  */
final class SnapshotStore(
    val spark: SparkSession,
    val root: String,
    val keyCol: String,
    filesPerCommit: Int = 4,
    keepVersions: Int = 2,
    indexCol: Option[String] = None,
    indexBits: Int = 1 << 14,
    maxPlannedBroadcast: Int = 1 << 16,
    protocol: CommitProtocol = AtomicRenameCommit) {

  require(keepVersions >= 1, "keepVersions must be >= 1")

  private val manifestDir = Paths.get(root, "_manifests")
  private val deletesDir = Paths.get(root, "_deletes")
  private val pointer = Paths.get(root, "LATEST")
  Files.createDirectories(manifestDir)

  /** Instrumentation: rows collected to the driver by the last
    * file-hit planning pass ([[hitSegments]], run by [[mergeWith]] and
    * [[purgeMor]]). Bounded by the delta's partitions × the manifest's
    * elementary-segment count (<= 2 × files), NEVER by delta key
    * cardinality — specs assert this stays tiny under a
    * million-distinct-key merge.
    */
  @volatile private[graft] var lastMergeSummaryRows: Long = -1L

  /** Instrumentation: did the last [[mergeByIndex]] call take the
    * fat-delta fallback (full-table fold, no probe broadcast) instead
    * of Bloom-probe planning? Specs pin that a backfill-sized dim
    * delta flips this on and a dim-shaped one leaves it off.
    */
  @volatile private[graft] var lastIndexMergeFallback: Boolean = false

  /** Instrumentation: did the last data-file write fall back to the
    * second stats job (re-reading the just-written files) instead of
    * the stats observed during the write? Specs pin that the CDC
    * merges stay on the observed path.
    */
  @volatile private[graft] var lastStatsFallback: Boolean = false

  def currentVersion: Option[Long] = protocol.readPointer(pointer)

  /** The key-range index of a committed version. Manifest rows store
    * paths RELATIVE to the store root (the property that makes the
    * store relocatable — a fingerprint-keyed build can land by atomic
    * directory rename, and at cluster scale the table can move
    * between storage roots without a manifest rewrite, the same
    * choice real table formats make); they are resolved to absolute
    * paths here, the single parse point every consumer reads through.
    * Absolute paths from pre-relative manifests still resolve.
    */
  def manifest(v: Long): Seq[DataFileEntry] = manifestEntries(v, withBlooms = true)

  /** The blobless twin of [[manifest]] for consumers that never probe
    * Bloom blobs on the driver (plain reads, range planning, change
    * feeds, vacuum): it skips the Base64 decode of every blob, which
    * is the bulk of a secondary-indexed manifest's bytes (bloom = None).
    */
  private def manifestLite(v: Long): Seq[DataFileEntry] =
    manifestEntries(v, withBlooms = false)

  private def manifestEntries(v: Long, withBlooms: Boolean): Seq[DataFileEntry] = {
    val path = manifestDir.resolve(s"m$v.tsv")
    val lines = Files.readAllLines(path).asScala.toSeq
    lines.headOption.foreach(requireTsvEntries(v, _))
    lines.filterNot(l => l.startsWith("#") || l.isEmpty)
      .map { l =>
        l.split("\t") match {
          case Array(p, r, mn, mx) =>
            DataFileEntry(resolvePath(p), r.toLong, mn.toLong, mx.toLong)
          case Array(p, r, mn, mx, b64) =>
            DataFileEntry(resolvePath(p), r.toLong, mn.toLong, mx.toLong,
              if (withBlooms) Some(java.util.Base64.getDecoder.decode(b64))
              else None)
          case _ => throw new IllegalStateException(
            s"corrupt manifest $path: " +
              s"expected 4 or 5 tab-separated fields, got line: $l")
        }
      }
  }

  /** Stores persisted by older builds with more than 4096 data files
    * kept their entry list in a parquet side table, and their TSV holds
    * only a header tagged ` entries=parquet`. This build reads TSV
    * entry lists only, so such a version fails here, by name, instead
    * of reading as a version with no data files.
    */
  private def requireTsvEntries(v: Long, header: String): Unit =
    if (header.contains(" entries=parquet"))
      throw new IllegalStateException(
        s"manifest v$v of store $root keeps its entry list in the retired " +
          "parquet manifest format, which this build does not read; migrate " +
          "the store by running optimize() on it with an older build that " +
          "still reads that format (the rewrite into filesPerCommit files " +
          "publishes a TSV manifest), then reopen it here")

  /** Version v's manifest header, parsed once from the FIRST line only:
    * a manifest can carry thousands of entries with multi-KB Bloom
    * blobs, and every read consults the header.
    */
  private def header(v: Long): SnapshotStore.Header = {
    val r = Files.newBufferedReader(manifestDir.resolve(s"m$v.tsv"))
    val h = try Option(r.readLine()).getOrElse("") finally r.close()
    requireTsvEntries(v, h)
    def tag(name: String): Option[String] =
      s" $name=(\\S+)".r.findFirstMatchIn(h).map(_.group(1))
    def b64(s: String): String =
      new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    SnapshotStore.Header(
      txn = " txn=(-?\\d+)".r.findFirstMatchIn(h).map(_.group(1).toLong),
      schema = tag("schema").map(s => org.apache.spark.sql.types.DataType
        .fromJson(b64(s)).asInstanceOf[StructType]),
      renames = tag("renames").map(s => b64(s).split(";").toSeq.filter(_.nonEmpty)
        .map { tok =>
          val Array(rv, f, t) = tok.split(">")
          (rv.toLong, f, t)
        }).getOrElse(Seq.empty),
      dv = tag("dv"))
  }

  /** Transaction id of the last applied commit (None before any
    * commit, or for commits made without one). Rides the manifest
    * HEADER, so it commits atomically with the version itself — the
    * property the idempotent-replay guard needs (a txn marker in a
    * side file could desync from the pointer on a crash between the
    * two writes).
    */
  def lastTxn: Option[Long] = currentVersion.flatMap(header(_).txn)

  /** The table schema recorded in a version's manifest header (what
    * real formats keep in metadata): the CURRENT schema applies to
    * every file, including carried-over ones written before a column
    * was added — readVersion null-pads those. None for manifests
    * from before schema tracking (read falls back to parquet's own
    * schema resolution).
    */
  def schemaOf(v: Long): Option[StructType] =
    header(v).schema

  /** Snapshot-isolated read of the current version (None if nothing
    * has been committed yet).
    */
  def read(): Option[DataFrame] = currentVersion.map(readVersion)

  def readVersion(v: Long): DataFrame = {
    val files = manifestLite(v).map(_.path)
    require(files.nonEmpty, s"version $v has no data files")
    readFiles(header(v), files)
  }

  /** The rename log of version v's manifest header (r15, the second
    * half of the type-evolution story): every column rename ever
    * committed, as (renamedAtVersion, from, to), oldest first. A
    * rename is a METADATA commit — data files written before it still
    * carry the old column name on disk, and [[readFiles]] maps them
    * forward by write generation. The log carries forward in the
    * header like the schema (a handful of bytes per rename, renames
    * are rare events).
    */
  private[graft] def renamesOf(v: Long): Seq[(Long, String, String)] =
    header(v).renames

  private def encodeRenames(r: Seq[(Long, String, String)]): String =
    java.util.Base64.getEncoder.encodeToString(
      r.map { case (v, f, t) => s"$v>$f>$t" }.mkString(";").getBytes("UTF-8"))

  /** The version a data file was WRITTEN at, parsed from the store's
    * own path layout (`data/v<N>-<attempt>/…`) — what decides which
    * renames postdate the file. A path outside the layout reads as
    * current-generation (no rename mapping applies).
    */
  private def writeVersionOf(path: String): Long =
    "data/v(\\d+)-".r.findFirstMatchIn(path)
      .map(_.group(1).toLong).getOrElse(Long.MaxValue)

  /** The deletion-vector tag of version v's manifest header: the
    * name of the `_deletes/<name>` parquet dir holding the version's
    * outstanding per-file key tombstones (r14 verdict task 4). None
    * when the version has no merge-on-read deletes outstanding.
    */
  private[graft] def dvName(v: Long): Option[String] = header(v).dv

  /** Version v's deletion vector as a frame — (path root-relative,
    * key long): "the row with this key in this data file is deleted".
    * Per-FILE scoping is what lets a later upsert of a purged key
    * become visible again (its row lands in a NEW file the tombstone
    * never mentions) while the purged row in the old carried file
    * stays masked.
    */
  private def dvFrame(name: Option[String]): Option[DataFrame] =
    name.map(n => Tables.loadCached(spark, deletesDir.resolve(n).toString))

  /** SCHEMA EVOLUTION: every file read goes through the
    * manifest-recorded schema — the parquet reader null-fills columns
    * a file predates, and WIDENS primitive columns a file wrote
    * narrower (int32 read as BIGINT via the vectorized reader's
    * widening updaters — the type-evolution path, r14 verdict task
    * 7): CoW carry-over keeps old files byte-identical when a fold
    * adds or widens a column, no footer-merge pass, column order is
    * the manifest's, not whichever file parquet would sample first.
    * Pre-schema-tracking manifests fall back to parquet's own
    * resolution.
    *
    * MERGE-ON-READ deletES: when the version carries a deletion
    * vector, its per-file tombstones are anti-joined here — the DV is
    * purge-batch-sized by construction (broadcast, map-side, no
    * shuffle), so every read path (snapshot, range, point, change
    * feed, and the merge folds' affected-slice base — which is what
    * keeps purged rows from resurrecting through a later fold) sees
    * post-delete rows at a cost bounded by the forget batch, never
    * the table.
    */
  /** COLUMN RENAME (r15): a rename is a header commit; files written
    * before it carry the OLD name on disk. Files group by write
    * generation (how many renames postdate them — parsed from the
    * path, no footer read), each group reads through the current
    * schema with names mapped BACK for its generation ([[generations]]),
    * maps them forward by position, and the groups union by name.
    * A column ADDED after a rename freed its name cannot exist in a
    * pre-rename file (the name was taken), so the back-mapped schema
    * drops it for that group and the union null-fills it — the one
    * collision case, spec-pinned.
    */
  private def readGenerations(st: StructType, rens: Seq[(Long, String, String)],
                              files: Seq[String]): DataFrame =
    generations(st, rens, files).map { g =>
      val df = spark.read.schema(g.schema).parquet(g.files: _*)
      if (g.names == g.schema.fieldNames.toSeq) df else df.toDF(g.names: _*)
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      .select(st.fieldNames.map(col).toIndexedSeq: _*)

  /** The rename mapping both read paths share: files grouped by write
    * generation, each with the schema its files are read through (the
    * current types under this generation's on-disk names) and the
    * current name every field of that schema maps forward to. A
    * current column missing from a generation is null-filled by the
    * reader of the whole set.
    */
  private def generations(st: StructType, rens: Seq[(Long, String, String)],
                          files: Seq[String]): Seq[SnapshotStore.Generation] =
    files.groupBy(f => rens.count(_._1 > writeVersionOf(f))).toSeq.sortBy(_._1).map {
      case (0, fs) => SnapshotStore.Generation(fs, st, st.fieldNames.toSeq)
      case (cut, fs) =>
        val applied = rens.takeRight(cut) // oldest-first renames to map
        // map current names back to this generation's on-disk names
        // (newest rename first), dropping any field whose back-mapped
        // name collides with another current field — that field was
        // added AFTER the rename freed the name, so it cannot be in
        // these files, and it reads as null
        val backName: String => String =
          applied.reverse.foldLeft(identity[String] _) { (acc, r) =>
            (n: String) => { val m = acc(n); if (m == r._3) r._2 else m }
          }
        val mapped = st.fields.map(f => f.copy(name = backName(f.name)))
        val dup = mapped.groupBy(_.name).filter(_._2.length > 1).keySet
        val kept = mapped.zip(st.fields).collect {
          // on a name collision keep the field that was RENAMED into
          // the clash (back-name ≠ current name) — the same-named
          // field was added after the rename freed the name
          case (m, orig) if !dup.contains(m.name) || m.name != orig.name => (m, orig.name)
        }.toSeq
        // two CHANGED names colliding (rename → re-add → rename again,
        // read a first-generation file) cannot be disambiguated from
        // the log alone — fail loudly rather than read wrong columns
        require(kept.map(_._1.name).distinct.length == kept.length,
          s"ambiguous rename history: two current columns map to the " +
            s"same on-disk name for generation-$cut files (${kept.map(_._1.name).mkString(",")})")
        SnapshotStore.Generation(fs, StructType(kept.map(_._1)), kept.map(_._2))
    }

  private def readFiles(h: SnapshotStore.Header, files: Seq[String]): DataFrame = {
    val base = h.schema match {
      case Some(st) if h.renames.nonEmpty => readGenerations(st, h.renames, files)
      case Some(st) => spark.read.schema(st).parquet(files: _*)
      case None     => spark.read.parquet(files: _*)
    }
    dvFrame(h.dv) match {
      case None => base
      case Some(dv) =>
        val dvAbs = dv.select(
          when(col("path").startsWith("/"), col("path"))
            .otherwise(concat(lit(absRoot + "/"), col("path")))
            .as("_dv_path"),
          col("key").as("_dv_key"))
        // input_file_name() is a URL-ENCODED URI; manifest paths are
        // raw filesystem paths. Percent-decode before comparing, or a
        // root containing spaces/%/non-ASCII silently misses the
        // anti-join and purged rows become readable again — a silent
        // compliance failure. A literal '+' is legal in a URI path
        // segment (it only means space in form encoding), so protect
        // it as %2B before url_decode's form-decoding pass.
        base
          .withColumn("_graft_file",
            url_decode(regexp_replace(
              regexp_replace(input_file_name(), "^file:/+", "/"),
              "\\+", "%2B")))
          .join(broadcast(dvAbs),
            col("_graft_file") === col("_dv_path") &&
              col(keyCol).cast("long") === col("_dv_key"),
            "left_anti")
          .drop("_graft_file")
    }
  }

  /** Manifest-index file pruning for a key range — which data files
    * can contain keys in [lo, hi]. Exposed so plan/pruning behavior
    * is spec-assertable.
    */
  def plannedFiles(lo: Long, hi: Long): Seq[DataFileEntry] =
    currentVersion.toSeq.flatMap(manifestLite)
      .filter(f => f.maxKey >= lo && f.minKey <= hi)

  /** Key-range read: file-skip via the manifest index (files are
    * range-clustered at commit, so a point/range lookup touches a
    * fraction of the table — Kudu's key-range-partition read path),
    * then the exact row filter on what remains. A plan of at most
    * [[SnapshotStore.LocalReadMaxRows]] (65 536, measured; see there)
    * planned rows is read on the driver at call time and its frame
    * starts no Spark job; a larger plan is a lazy Spark scan. See
    * [[lookup]].
    */
  def readRange(lo: Long, hi: Long): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version in $root"))
    val all = manifestLite(v)
    lookup(header(v), all, all.filter(f => f.maxKey >= lo && f.minKey <= hi),
      col(keyCol) >= lo && col(keyCol) <= hi)
  }

  /** Files that might contain `value` in the secondary index column —
    * per-file Bloom pruning (a file with no blob is conservatively
    * kept). The probe hashes exactly as the write-side stats job did
    * (Spark's xxhash64), so skip decisions can never diverge from
    * the stored bits.
    */
  def plannedFilesPoint(value: Any): Seq[DataFileEntry] = {
    require(indexCol.isDefined, "store has no secondary index column")
    currentVersion.toSeq.flatMap(v => bloomHits(header(v), manifest(v), value))
  }

  private def bloomHits(h: SnapshotStore.Header, entries: Seq[DataFileEntry],
                        value: Any): Seq[DataFileEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    // hash through the INDEX COLUMN's type, not the passed value's
    // runtime type: xxhash64 takes different byte paths per type, so
    // readPoint(5) (Int) against a BIGINT column would otherwise
    // compute a different hash than the write side and Bloom-prune
    // everything — a silent false NEGATIVE, the one failure mode the
    // index must never have
    val lit0 = Literal(value)
    val colType = h.schema
      .flatMap(st => st.fields.find(_.name == indexCol.get).map(_.dataType))
      .getOrElse(lit0.dataType)
    val probe = if (lit0.dataType == colType) lit0
                else Cast(lit0, colType, Some("UTC"))
    val hash = XxHash64(Seq(probe), 42L).eval(null).asInstanceOf[Long]
    entries.filter(f =>
      f.bloom.forall(b => graft.functions.BloomAlgos.mightContain(b, hash)))
  }

  /** Point read on the SECONDARY column: Bloom-skip data files, then
    * the exact filter on the survivors. The non-key analog of
    * [[readRange]] — when the index column clusters with the key
    * (tenant within time, source within id range), a point predicate
    * touches a fraction of the table without any second sort order.
    * False positives only cost extra file reads; the row filter keeps
    * the result exact. As in [[readRange]], a plan of at most
    * [[SnapshotStore.LocalReadMaxRows]] planned rows is read on the
    * driver at call time and its frame starts no Spark job; a larger
    * plan is a lazy Spark scan. See [[lookup]].
    */
  def readPoint(value: Any): DataFrame = {
    require(indexCol.isDefined, "store has no secondary index column")
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version in $root"))
    val h = header(v)
    val all = manifest(v)
    lookup(h, all, bloomHits(h, all, value), col(indexCol.get) === lit(value))
  }

  /** The one read path of [[readRange]] and [[readPoint]]: the planned
    * files `hit` of one version (`h`, `all`) under the lookup's exact
    * row filter `cond`.
    *
    * When the planned files hold at most
    * [[SnapshotStore.LocalReadMaxRows]] rows (the manifest's `rows`
    * column), they are read HERE, on the driver, through Spark's own
    * parquet reader ([[scanLocal]]) with the manifest schema as the
    * requested schema, so the reader's own widening and null-fill
    * apply, and the rename mapping is [[generations]], the same as
    * [[readFiles]]'. A row is kept only when it passes `cond` (as the
    * analyzer resolved it, coercions included) as it is decoded, and
    * the version's deletion-vector tombstones for those files are read
    * the same way and subtracted. The result is a `LocalRelation` with
    * the same `.filter(cond)` on top, which the optimizer evaluates
    * (`ConvertToLocalRelation`): collecting it starts no job. The rows
    * are read at CALL time, so a vacuum after the call cannot delete
    * them under the caller.
    *
    * Larger plans, manifests from before schema tracking and schemas
    * the vectorized reader does not serve keep the Spark scan through
    * [[readFiles]], as every other read does: only a distributed scan
    * keeps driver memory bounded for a large plan.
    */
  private def lookup(h: SnapshotStore.Header, all: Seq[DataFileEntry],
                     hit: Seq[DataFileEntry], cond: Column): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
    h.schema match {
      case Some(st) if hit.map(_.rows).sum <= SnapshotStore.LocalReadMaxRows &&
          ParquetUtils.isBatchReadSupportedForSchema(Bridge.sqlConf(spark), st) =>
        lookupLocal(h, st, hit.map(_.path), cond)
      case _ =>
        // empty plan (every file pruned): build the zero-row frame from
        // ONE file, not all N footers
        val base =
          if (hit.isEmpty) readFiles(h, Seq(all.head.path)).limit(0)
          else readFiles(h, hit.map(_.path))
        base.filter(cond)
    }
  }

  private def lookupLocal(h: SnapshotStore.Header, st: StructType,
                          files: Seq[String], cond: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference,
      Cast, Expression, InterpretedUnsafeProjection, Literal, Predicate}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.types.LongType
    val out = DataTypeUtils.toAttributes(Bridge.asNullable(st))
    def frame(rows: Seq[InternalRow]): DataFrame =
      Bridge.ofRows(spark, LocalRelation(out, rows)).filter(cond)
    val condition = Bridge.logicalPlan(frame(Nil)) match {
      case Filter(c, _) => c
      case p => throw new IllegalStateException(s"unexpected lookup plan: $p")
    }
    val tombstones = localTombstones(h.dv, files.toSet)
    val key = out.find(_.name == keyCol).get
    val kept = Vector.newBuilder[InternalRow]
    generations(st, h.renames, files).foreach { g =>
      // the output's attributes bound to this generation's read
      // schema; a column the generation lacks reads as null
      val ordinal = g.names.zipWithIndex.toMap
      def bind(e: Expression): Expression = e.transform {
        case a: AttributeReference =>
          ordinal.get(a.name).fold[Expression](Literal(null, a.dataType))(
            BoundReference(_, a.dataType, nullable = true))
      }
      val keep = Predicate.createInterpreted(bind(condition))
      val keyOf = bind(Cast(key, LongType))
      val project = InterpretedUnsafeProjection.createProjection(out.map(bind))
      g.files.foreach { file =>
        val dead = tombstones.getOrElse(file, Set.empty[Long])
        scanLocal(g.schema, file) { row =>
          if (keep.eval(row) && (dead.isEmpty || {
                val k = keyOf.eval(row)
                k == null || !dead(k.asInstanceOf[Long])
              }))
            kept += project(row).copy()
        }
      }
    }
    frame(kept.result())
  }

  /** Version `dv`'s tombstones of `files` (absolute paths), read on the
    * driver through [[scanLocal]]: a deletion vector is
    * purge-batch-sized by construction, the bound the Spark path's
    * broadcast relies on too.
    */
  private def localTombstones(dv: Option[String],
                              files: Set[String]): Map[String, Set[Long]] =
    dv.fold(Map.empty[String, Set[Long]]) { name =>
      val parts = {
        val ls = Files.list(deletesDir.resolve(name))
        try ls.iterator().asScala.map(_.toString).filter { p =>
          val n = Paths.get(p).getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }.toVector
        finally ls.close()
      }
      val got = Vector.newBuilder[(String, Long)]
      parts.foreach(p => scanLocal(SnapshotStore.DvSchema, p) { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val path = resolvePath(r.getUTF8String(0).toString)
          if (files(path)) got += path -> r.getLong(1)
        }
      })
      got.result().groupMap(_._1)(_._2).map { case (f, ks) => f -> ks.toSet }
    }

  /** Spark's own parquet reader (`ParquetFileFormat`), built once per
    * requested schema per store and reused: building it broadcasts the
    * Hadoop conf, so a lookup that reuses it creates no broadcast.
    * Batches are returned when the format supports them for the schema
    * (`supportBatch`), as in Spark's own scan. The reader captures the
    * session's SQL conf (and the Hadoop conf derived from it) when it is
    * built, so it is rebuilt when those settings have changed since:
    * a lookup decodes under the conf the Spark scan would use.
    */
  private final class LocalReader(
      val conf: Map[String, String],
      val read: org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow],
      val batched: Boolean)
  private val localReaders =
    new java.util.concurrent.ConcurrentHashMap[StructType, LocalReader]()
  /** Readers built so far (spec hook: reuse and conf-change rebuilds). */
  private[graft] val localReaderBuilds = new java.util.concurrent.atomic.AtomicLong()

  /** Decode every row of one parquet `file` through `schema` on the
    * driver, handing each to `f` (a row is valid only during the
    * call). The per-file iterator is closed in a `finally`: outside a
    * task no completion listener closes a reader an exception
    * abandoned.
    */
  private def scanLocal(schema: StructType, file: String)(
      f: org.apache.spark.sql.catalyst.InternalRow => Unit): Unit = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val conf = Bridge.sqlConf(spark).getAllConfs
    val reader = localReaders.compute(schema, (st, old) =>
      if (old != null && old.conf == conf) old
      else {
        val format = new ParquetFileFormat
        val batch = format.supportBatch(spark, st)
        localReaderBuilds.incrementAndGet()
        new LocalReader(conf,
          format.buildReaderWithPartitionValues(spark, st, new StructType(), st, Nil,
            Map(FileFormat.OPTION_RETURNING_BATCH -> batch.toString),
            Bridge.newHadoopConf(spark)), batch)
      })
    val p = Paths.get(file)
    val size = Files.size(p)
    val it = reader.read(PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(file), 0L, size,
      Array.empty[String], Files.getLastModifiedTime(p).toMillis, size))
    try {
      if (reader.batched) it.asInstanceOf[Iterator[AnyRef]].foreach(b =>
        b.asInstanceOf[ColumnarBatch].rowIterator().asScala.foreach(f))
      else it.foreach(f)
    } finally it match {
      case c: java.io.Closeable => c.close()
      case _ => ()
    }
  }

  private def attemptToken(): String =
    java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffL)

  /** Write `df` as version `v`'s NEW data files (range-clustered on
    * the key) and return their manifest entries, with the per-file
    * stats collected during the write.
    *
    * Only NON-FATAL failures are candidates for the retry contract:
    * an OOM, a linkage error or an interrupt surfaces as itself, never
    * relabelled as a retryable conflict, and a converted failure keeps
    * the original error as its cause.
    */
  private def writeDataFiles(df: DataFrame, v: Long): Seq[DataFileEntry] =
    try writeDataFilesInner(df, v)
    catch {
      case e: ConcurrentCommitException => throw e
      case NonFatal(e)
          if currentVersion != (if (v == 0L) None else Some(v - 1L)) =>
        // the pointer moved past this attempt's basis while it was
        // writing: a concurrent winner committed, and its vacuum may
        // have reclaimed this attempt's in-flight directory out from
        // under the write/stats pass. The attempt was doomed at the
        // CAS anyway — surface the retry-contract exception so
        // optimistic writers re-read + re-fold instead of dying on a
        // raw I/O error (the age-gated vacuum makes this window rare;
        // this converts what remains of it)
        throw new ConcurrentCommitException(
          s"write of v$v in $root lost its attempt dir to a concurrent " +
            s"winner's vacuum (${e.getClass.getSimpleName}: ${e.getMessage}) " +
            "— re-read the snapshot, re-fold, retry", e)
    }

  /** Is `df` already range-partitioned on the key into exactly
    * `filesPerCommit` partitions? Read from the frame's own physical
    * plan (the AQE wrapper reports no partitioning, so its input plan
    * is asked): [[merge]] folds inside such an exchange, and its
    * output is then written as it is.
    */
  private def rangeClusteredOnKey(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.outputPartitioning match {
      case RangePartitioning(Seq(order), n) =>
        n == filesPerCommit &&
          plan.output.find(_.name == keyCol).exists(order.child.semanticEquals)
      case _ => false
    }
  }

  private def writeDataFilesInner(df: DataFrame, v: Long): Seq[DataFileEntry] = {
    // attempt-unique directory: two optimistic writers racing to the
    // same version number must never interleave parquet output in
    // one directory (mode=overwrite would eat the winner's files).
    // The manifest records exact file paths, so readers never care
    // about directory naming; a losing attempt's orphans are
    // reference-count-collected by the next successful vacuum.
    val dataDir = Paths.get(root, "data", s"v$v-${attemptToken()}")
    // A frame that is already range-clustered on the key (the CDC
    // merge folds inside its range exchange) is written as it is: one
    // sample job, one exchange, and the stage that folds is the stage
    // that writes. Any other frame (commit, optimize, purge, the
    // generic mergeWith folds) is staged ONCE and then clustered:
    // repartitionByRange's boundary sampling is its own pass over the
    // input, so an unpersisted fold would run end-to-end twice
    // (sample, then write). The stage is bounded by the affected
    // slice and released before this method returns.
    val staged =
      if (rangeClusteredOnKey(df)) None
      else Some(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Per-file manifest stats (rows, key range, secondary Bloom)
    // are collected DURING the write via observe() + FileStatsAgg
    // (r17, verdict item 4): the old path ran a SECOND job that
    // re-read every just-written file — at 100 TB a full re-read of
    // the commit's output, locally ~1 job per commit (4 per forget
    // gate). Real formats collect these in the writer; observe() is
    // the Dataset seam for that. The output partition id is projected
    // ABOVE the exact range exchange (spark_partition_id is
    // nondeterministic, so Catalyst cannot push it below), and one
    // output partition = one part file (`part-<pid>-…`), verified
    // against the directory listing below before the stats are
    // trusted; any mismatch (empty pid-0 placeholder file, a
    // maxRecordsPerFile split, a non-integral key type) falls back to
    // the old stats job, which also keeps its exclude-empty-files
    // behavior.
    val integralKey = {
      import org.apache.spark.sql.types._
      df.schema(keyCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val obs = new org.apache.spark.sql.Observation(s"fstats-${attemptToken()}")
    try {
      val clustered =
        staged.fold(df)(_.repartitionByRange(filesPerCommit, col(keyCol)))
      val toWrite =
        if (!integralKey) clustered
        else {
          import org.apache.spark.sql.{functions => F}
          import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
          val withPid = clustered.withColumn("_graft_pid", F.spark_partition_id())
          val agg = FileStatsAgg(
            toExpr(withPid.col("_graft_pid")),
            toExpr(F.col(keyCol).cast("long")),
            indexCol.map(c => toExpr(F.xxhash64(F.col(c)))),
            numBits = indexBits)
          withPid
            .observe(obs, toCol(agg.toAggregateExpression()).as("stats"))
            .select(df.columns.map(col).toIndexedSeq: _*)
        }
      toWrite.write.mode("overwrite").parquet(dataDir.toString)
    } finally staged.foreach(_.unpersist(blocking = false))
    val fromObserve: Option[Seq[DataFileEntry]] =
      if (!integralKey) None
      else {
        val stats: Map[Int, (Long, Long, Long, Option[Array[Byte]])] =
          obs.get("stats").asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
            .map(r => r.getInt(0) ->
              (r.getLong(1), r.getLong(2), r.getLong(3),
                Option(r.getAs[Array[Byte]](4))))
            .toMap
        val partFiles: Seq[(Int, String)] = {
          val ls = Files.list(dataDir)
          try {
            import scala.jdk.CollectionConverters._
            ls.iterator().asScala.flatMap { p =>
              val n = p.getFileName.toString
              "^part-(\\d+)-".r.findFirstMatchIn(n)
                .filter(_ => n.endsWith(".parquet"))
                .map(m => m.group(1).toInt -> p.toString)
            }.toVector
          } finally ls.close()
        }
        val pidsMatch = partFiles.map(_._1).sorted == stats.keys.toSeq.sorted &&
          partFiles.map(_._1).distinct.length == partFiles.length &&
          stats.valuesIterator.forall { case (rows, mn, mx, _) =>
            rows > 0L && mn <= mx }
        if (!pidsMatch) None
        else Some(partFiles.map { case (p, path) =>
          val (rows, mn, mx, bloom) = stats(p)
          DataFileEntry(path, rows, mn, mx, bloom)
        })
      }
    lastStatsFallback = fromObserve.isEmpty
    fromObserve.getOrElse {
      // fallback stats job (pre-r17 path). Read back through df's OWN
      // schema: exact by construction (no footer-inference job), and
      // an EMPTY fold (delete-heavy merge that empties the affected
      // slice — a carried-only commit) writes no part files, which a
      // schema-less read would refuse to infer
      val base = spark.read.schema(df.schema).parquet(dataDir.toString)
        .groupBy(input_file_name().as("path"))
      val aggs = Seq(count(lit(1)).as("rows"),
        min(col(keyCol)).cast("long").as("mn"),
        max(col(keyCol)).cast("long").as("mx")) ++
        indexCol.map(c => graft.functions.bloom_agg(xxhash64(col(c)),
          numBits = indexBits).as("bloom"))
      base.agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => DataFileEntry(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (indexCol.isDefined) Some(r.getAs[Array[Byte]]("bloom")) else None))
        .toSeq
    }
  }

  /** The manifest header line: schema, rename log, txn watermark and
    * deletion-vector tag ride it atomically with the version. The
    * schema, the rename log and the watermark carry forward from the
    * current version's header (`prior`) when the commit states none.
    */
  private def headerLine(prior: Option[SnapshotStore.Header],
                         txn: Option[Long],
                         schema: Option[StructType],
                         dv: Option[String],
                         renames: Option[Seq[(Long, String, String)]])
      : String = {
    // like the txn watermark below, the recorded schema carries
    // forward if a caller ever publishes without one
    val schemaTag = schema.orElse(prior.flatMap(_.schema))
      .map(st => " schema=" +
        java.util.Base64.getEncoder.encodeToString(st.json.getBytes("UTF-8")))
      .getOrElse("")
    // the replay watermark must SURVIVE txn-less commits (a CDC merge
    // or optimize() interleaved with the additive stream): lastTxn
    // reads only the current header, so dropping it here would
    // silently re-open the double-count window the guard closes
    val effTxn = txn.orElse(prior.flatMap(_.txn))
    // the rename log carries forward like the schema — files written
    // before a rename outlive many commits, so every version must
    // keep the mapping; only renameColumn itself appends
    val effRenames = renames.getOrElse(prior.map(_.renames).getOrElse(Seq.empty))
    val renameTag =
      if (effRenames.isEmpty) "" else s" renames=${encodeRenames(effRenames)}"
    // the dv tag does NOT carry forward: absence means "no
    // outstanding tombstones", and every publish recomputes the
    // survivor set explicitly (stageDv) — a blind carry would
    // resurrect tombstones for rewritten files
    s"# graft-manifest v1 key=$keyCol" + schemaTag + renameTag +
      effTxn.map(t => s" txn=$t").getOrElse("") +
      dv.map(d => s" dv=$d").getOrElse("")
  }

  /** Optimistic-concurrency commit point (r12 verdict task 5). The
    * writer states the version its content was BUILT FROM
    * (`expectedParent`); under the commit lock the store re-reads
    * the pointer and aborts with [[ConcurrentCommitException]] if
    * another writer advanced it — the lost-update window between
    * read-basis and pointer-flip is closed, Delta/Iceberg-style, and
    * the loser re-reads + re-folds + retries. Locking is two-level:
    * a JVM-wide monitor per store root (FileChannel throws
    * OverlappingFileLockException on same-JVM contention) plus an OS
    * file lock for cross-process writers on one host — that policy
    * now lives in [[AtomicRenameCommit]]; the store sees only the
    * [[CommitProtocol]] seam, so an object-store deployment swaps
    * the primitives (conditional-put lease/pointer) without touching
    * the commit ordering here.
    */
  private def withCommitLock[T](body: => T): T =
    protocol.exclusive(root)(body)

  private def casCheck(v: Long, expectedParent: Option[Long]): Unit = {
    val cur = currentVersion
    if (cur != expectedParent)
      throw new ConcurrentCommitException(
        s"commit of v$v in $root expected parent " +
          s"${expectedParent.fold("<none>")(p => s"v$p")} but found " +
          s"${cur.fold("<none>")(c => s"v$c")} — a concurrent writer " +
          "committed first; re-read the snapshot, re-fold, retry")
  }

  private def flipPointer(v: Long): Unit = protocol.flipPointer(pointer, v)

  /** Stage version v's deletion vector: (current DV ∪ `dvAdd`),
    * deduped, restricted to rows whose file SURVIVES into the new
    * manifest (`survivingRel`, root-relative paths) — rewritten
    * files shed their tombstones because the rewrite already dropped
    * the rows. Returns the staged tmp dir + the final `_deletes`
    * name for the header tag, or None when no tombstone survives
    * (the common case: no MoR delete outstanding costs nothing).
    */
  private def stageDv(v: Long, curDv: Option[DataFrame], dvAdd: Option[DataFrame],
                      survivingRel: DataFrame): Option[(java.nio.file.Path, String)] = {
    val combined = (curDv, dvAdd) match {
      case (None, None)       => return None
      case (Some(a), Some(b)) => a.unionByName(b)
      case (a, b)             => a.orElse(b).get
    }
    val kept = combined.select(col("path"), col("key")).distinct()
      .join(survivingRel.select(col("path")), Seq("path"), "left_semi")
    if (kept.isEmpty) None
    else {
      Files.createDirectories(deletesDir)
      val tmp = deletesDir.resolve(s".dv$v.${attemptToken()}.tmp")
      kept.write.mode("overwrite").parquet(tmp.toString)
      Some((tmp, s"dv$v.parquet"))
    }
  }

  /** Land a staged DV inside the commit lock — BEFORE the header that
    * references it (a crash in between leaves an unreferenced dir the
    * next attempt clears; the header tag alone decides commit-ness).
    */
  private def landDv(stage: Option[(java.nio.file.Path, String)]): Unit =
    stage.foreach { case (tmp, name) =>
      val target = deletesDir.resolve(name)
      if (Files.exists(target))
        org.apache.commons.io.FileUtils.deleteDirectory(target.toFile)
      protocol.landDir(tmp, target)
    }

  private def dropDvStage(stage: Option[(java.nio.file.Path, String)]): Unit =
    stage.foreach { case (tmp, _) =>
      if (Files.exists(tmp))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }

  /** Publish a manifest (new + carried-over entries) as version `v`
    * and flip the pointer — data files first, manifest second,
    * pointer last and atomic, so a crash leaves the previous version
    * intact.
    */
  private def publish(v: Long, entries: Seq[DataFileEntry],
                      txn: Option[Long] = None,
                      schema: Option[StructType] = None,
                      expectedParent: Option[Long] = None,
                      dvAdd: Option[DataFrame] = None,
                      renames: Option[Seq[(Long, String, String)]] = None)
      : Long = {
    require(entries.nonEmpty, "commit of an empty snapshot is not supported")
    val prior = currentVersion.map(header)
    // deletion-vector carry: only run the survivor job when a DV
    // exists or this commit adds tombstones — every other publish
    // stays DV-free with zero extra work
    val curDv = dvFrame(prior.flatMap(_.dv))
    val dvStage =
      if (dvAdd.isEmpty && curDv.isEmpty) None
      else {
        import spark.implicits._
        stageDv(v, curDv, dvAdd, entries.map(e => relativizePath(e.path)).toDF("path"))
      }
    val body = (headerLine(prior, txn, schema, dvStage.map(_._2), renames) +:
      entries.sortBy(e => (e.minKey, e.path))
        // runtime entries carry absolute paths; the manifest ROW is
        // root-relative (see manifest() — relocatability)
        .map(e => s"${relativizePath(e.path)}\t${e.rows}\t${e.minKey}\t${e.maxKey}" +
          e.bloom.map(b => "\t" + java.util.Base64.getEncoder.encodeToString(b))
            .getOrElse("")))
      .mkString("\n")
    // attempt-unique tmp name: two optimistic writers racing to the
    // same version must not clobber each other's staging file
    val tmpM = manifestDir.resolve(s".m$v.${attemptToken()}.tsv.tmp")
    Files.writeString(tmpM, body)
    try withCommitLock {
      casCheck(v, expectedParent)
      landDv(dvStage)
      protocol.landFile(tmpM, manifestDir.resolve(s"m$v.tsv"))
      flipPointer(v)
    } catch {
      case e: ConcurrentCommitException =>
        // loser cleanup: the staged manifest goes now; the attempt's
        // orphaned data files are reference-count-collected by the
        // next successful publish's vacuum
        Files.deleteIfExists(tmpM); dropDvStage(dvStage); throw e
    }
    // v is committed once the pointer flips: a vacuum failure from
    // here on must not tell the caller otherwise (a caller that
    // believed it and retried would apply the change twice). Whatever
    // this vacuum left, the next one reclaims.
    try vacuum(v)
    catch {
      case NonFatal(e) =>
        SnapshotStore.log.warn(
          s"v$v of store $root is committed, but its vacuum failed; " +
            "the next commit's vacuum reclaims what it left", e)
    }
    v
  }

  /** Commit a full snapshot as the next version (every file
    * rewritten). The streaming sink uses [[merge]] instead, which
    * rewrites only delta-affected files.
    */
  def commit(next: DataFrame, txn: Option[Long] = None): Long = {
    val basis = currentVersion
    commitAs(next, txn, basis)
  }

  /** [[commit]] with an explicit basis version for the CAS check —
    * what mergeWith/optimize use so the version they FOLDED FROM
    * (not whatever is current at publish time) is the one the
    * commit point verifies.
    */
  private def commitAs(next: DataFrame, txn: Option[Long],
                       basis: Option[Long]): Long = {
    val v = basis.map(_ + 1L).getOrElse(0L)
    publish(v, writeDataFiles(next, v), txn, Some(next.schema), basis)
  }

  /** The Kudu-role MERGE, file-level copy-on-write: fold a batch of
    * parsed CDC change rows into the stored snapshot. Only data files
    * whose key range intersects a delta key are read, merged and
    * rewritten; every other file CARRIES OVER into the new manifest by
    * reference — merge cost scales with the delta's key locality,
    * never with table size (the reference achieves the same
    * incrementality via per-record Kudu upserts
    * [ref: KuduManager.scala:72-114]).
    *
    * The fold runs in UNION form inside the write's own exchange: the
    * affected base rows (delete_state dropped) and the keyed delta are
    * unioned, range-repartitioned ONCE on the key into
    * `filesPerCommit` partitions, and snapshotted by
    * [[CdcOps.softDeleteSnapshot]] — the kernel `init` uses, sound
    * because compact(snapshot(A), B) == snapshot(A ∪ B) for any log
    * split. The window's key clustering is satisfied by the range
    * partitioning, so the fold adds no exchange, and
    * [[writeDataFiles]] writes the frame as it is: no staging, no
    * second range exchange, no join.
    *
    * Semantics equal [[CdcOps.softDeleteSnapshot]] over the whole log:
    * per key the greatest (current_ts, id) wins, a null current_ts
    * loses to any timestamp, and a delete keeps its D row with the
    * payload nulled (delete_state derives from op_type)
    * [ref: KuduManager.scala:74-80]. Tie rule: a delta row that ties
    * a stored row on (current_ts, id) replaces it — the later batch
    * wins, as in [[CdcOps.compactSnapshot]]; ties inside one batch
    * keep one of the tied rows.
    */
  def merge(deltas: DataFrame): Long =
    mergeWith(deltas,
      init = keyed => clusteredSnapshot(keyed),
      fold = (baseAffected, keyed) => {
        val base = baseAffected.drop("delete_state")
        val cols = base.columns.toSeq.map(col)
        clusteredSnapshot(
          base.withColumn("_graft_later", lit(false))
            .unionByName(keyed.select(cols: _*).withColumn("_graft_later", lit(true))),
          tieBreak = Seq(col("_graft_later").desc))
          .drop("_graft_later")
      })

  /** [[CdcOps.softDeleteSnapshot]] over ONE range exchange on the key
    * into `filesPerCommit` partitions — the write's own clustering.
    */
  private def clusteredSnapshot(rows: DataFrame,
                                tieBreak: Seq[Column] = Nil)
      : DataFrame =
    CdcOps.softDeleteSnapshot(rows.repartitionByRange(filesPerCommit, col(keyCol)),
      col(keyCol), tieBreak)

  /** Hard delete (right-to-be-forgotten, r14): physically remove the
    * rows whose key appears in `keys`, file-level copy-on-write —
    * only data files whose key range intersects the purge set are
    * rewritten (without the purged rows); every other file carries
    * over BY REFERENCE, and the old version's files holding the
    * purged bytes are reclaimed by the next vacuum once out of
    * retention. This is the compliance twin of [[merge]]'s LOGICAL
    * soft delete (which retains the D record): after purge + vacuum
    * the content is gone from disk, not just masked. At 100 TB a
    * purge of k keys costs the rewrite of only the files those keys
    * live in (range-clustered layout keeps that near-minimal), never
    * a table rewrite. A key absent from the table is a no-op (the
    * hit-segment check commits no version churn); a purge emptying
    * the affected slice commits a carried-only version (the
    * delete-heavy-fold path StoreSpec pins); purging an EMPTY store
    * returns -1.
    */
  def purge(keys: DataFrame): Long =
    if (currentVersion.isEmpty) -1L
    else {
      // stage the distinct key set once (r16): mergeWith reads its
      // delta several times (hit-segment pass, range sampling, fold
      // write) and purge callers typically pass a corpus-derived
      // filter lineage — re-running that per pass multiplied scan
      // jobs. A forget batch is small by contract, released on return.
      val staged = keys.select(col(keyCol)).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try mergeWith(staged,
        init = _ => staged.limit(0), // unreachable: guarded non-empty above
        fold = (baseAffected, keyed) =>
          baseAffected.join(keyed, Seq(keyCol), "left_anti"),
        deleteOnly = true)
      finally staged.unpersist(blocking = false)
    }

  /** Merge-on-read purge (r14 verdict task 4): the deletion-vector
    * twin of [[purge]]. CoW purge pays a rewrite of every COVERING
    * file per forget batch — at 100 TB with weekly small batches that
    * rewrite dominates compliance cost. This variant writes only a
    * per-file key TOMBSTONE set (the deletion vector, a parquet of
    * (path, key) rows batch-bounded in size): every data file carries
    * into the new version BY REFERENCE, reads anti-join the broadcast
    * DV (see [[readFiles]] — all read paths, including the merge
    * folds' affected base, see post-delete rows), and the deferred
    * rewrite happens when the OPERATOR chooses: [[optimize]] compacts
    * the table clean and drops the DV; any CoW merge that rewrites a
    * covering file sheds that file's tombstones with it. Tombstones
    * are per-FILE, so a later upsert of a purged key is visible again
    * (its row lands in a new file). Purge cost is pure metadata —
    * segment planning + a DV write — never a data-file read or write.
    *
    * NOTE the retention caveat the CoW purge does not have: the
    * purged BYTES remain on disk until the covering files are
    * rewritten (optimize / a later merge) and vacuumed out of
    * retention — MoR trades immediate physical erasure for O(batch)
    * purge cost. A compliance deadline is met by purgeMor now +
    * optimize before the deadline. [[changes]] is file-diff-based and
    * does not surface MoR deletes (a carried-only DV commit adds no
    * files); downstream consumers of forget batches should read the
    * forget feed itself, as the A43 pipeline does.
    *
    * Same no-op guarantees as [[purge]]: absent keys (no covering
    * file) commit nothing; an empty store returns -1; a replayed txn
    * is a no-op. A forget batch wide enough that its covering-file
    * set exceeds `maxPlannedBroadcast` falls back to the CoW purge —
    * past that bound the DV approaches table scale and the rewrite
    * is the right economics anyway.
    */
  def purgeMor(keys: DataFrame, txn: Option[Long] = None): Long = {
    if (currentVersion.isEmpty) return -1L
    if (txn.exists(id => lastTxn.exists(_ >= id)))
      return currentVersion.getOrElse(-1L)
    val cur = currentVersion.get
    val v = cur + 1L
    import spark.implicits._
    // staged once (r16): the key set is read by the hit-segment pass
    // AND the DV build (and the CoW fallback's merge passes); purge
    // callers typically pass a corpus-derived filter lineage
    val keyed = keys.filter(col(keyCol).cast("long").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // which files can a purge key live in — the same elementary-
    // segment pass as the CoW merges (driver traffic bounded by
    // manifest size, never by forget-batch cardinality)
    val all = manifest(cur)
    val affected = splitByHits(all, keyed).fold(Seq.empty[DataFileEntry])(_._1)
    if (affected.isEmpty) return cur // no covering file: provably a no-op
    if (affected.size > maxPlannedBroadcast)
      return mergeWith(keyed,
        init = _ => keyed.limit(0),
        fold = (baseAffected, k) =>
          baseAffected.join(k.select(col(keyCol)).distinct(),
            Seq(keyCol), "left_anti"),
        txn = txn, deleteOnly = true)
    // the tombstones: every (covering file, purge key) pair. Key
    // PRESENCE in the file is not checked — that would read data,
    // and an absent key's tombstone can never match a row — so the
    // DV stays bounded by |batch| × covering-files-per-key (≈1 on a
    // range-clustered table)
    val aff = affected.map(e => (relativizePath(e.path), e.minKey, e.maxKey))
      .toDF("path", "minKey", "maxKey")
    val dvAdd = keyed.select(col(keyCol).cast("long").as("key")).distinct()
      .join(broadcast(aff), col("key").between(col("minKey"), col("maxKey")))
      .select(col("path"), col("key"))
    // carried-only commit: every data file carries by reference, only
    // the DV and the header change
    publish(v, all, txn, schemaOf(cur),
      expectedParent = Some(cur), dvAdd = Some(dvAdd))
    } finally keyed.unpersist(blocking = false)
  }

  /** The current version's outstanding merge-on-read tombstones as a
    * frame — (path root-relative, key) — the COMPLIANCE-AUDIT surface
    * of [[purgeMor]]: which keys are masked-but-not-yet-physically-
    * erased, and in which data files (exactly what the next
    * [[optimize]] will rewrite and vacuum will then reclaim). An
    * auditor answers "prove key K is being forgotten" from this frame
    * plus the store's read path (the row is unreadable NOW, the bytes
    * are scheduled); an operator sizes the deferred-rewrite bill from
    * its distinct-path count. Empty frame (same schema) when no
    * tombstones are outstanding.
    */
  def deletions(): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version in $root"))
    dvFrame(dvName(v)).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("path", StringType),
          StructField("key", LongType))))
    }
  }

  /** COLUMN RENAME (r15, the second half of r14 verdict task 7's
    * evolution story): a metadata-only commit — no data file is read
    * or written. The new schema and an appended rename-log entry ride
    * the next version's header; files written before the rename keep
    * the old name on disk and [[readFiles]] maps them forward by
    * write generation (path-parsed, no footer read). Later folds see
    * the new name everywhere; a rewrite of an old file sheds its
    * mapping naturally (the new file is written under the current
    * name). At 100 TB a rename costs one header, not a table rewrite
    * — the other operation (with int→long widening) a long-lived
    * feed needs [ref: KuduManager.scala:86-108 coerces per-table at
    * write; a lake format does it at read]. Restrictions: the key
    * and secondary-index columns cannot be renamed (planning and DV
    * identity hang off them), names must fit the header codec's
    * alphabet, and the new name must be unused. Same txn replay
    * guard as the merges.
    */
  def renameColumn(from: String, to: String, txn: Option[Long] = None): Long = {
    if (txn.exists(id => lastTxn.exists(_ >= id)))
      return currentVersion.getOrElse(-1L)
    val cur = currentVersion.getOrElse(throw new IllegalStateException(
      s"renameColumn on an empty store at $root"))
    require(from != keyCol, "cannot rename the key column")
    require(!indexCol.contains(from), "cannot rename the secondary index column")
    require(from.matches("[A-Za-z0-9_]+") && to.matches("[A-Za-z0-9_]+"),
      "rename names must be [A-Za-z0-9_]+ (the header codec's alphabet)")
    val st = schemaOf(cur).getOrElse(throw new IllegalStateException(
      "renameColumn needs a schema-recorded manifest"))
    require(st.fieldNames.contains(from),
      s"no column $from in ${st.fieldNames.mkString(",")}")
    require(!st.fieldNames.contains(to), s"column $to already exists")
    val v = cur + 1L
    val newSchema = StructType(
      st.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    val log = renamesOf(cur) :+ ((v, from, to))
    publish(v, manifest(cur), txn, Some(newSchema),
      expectedParent = Some(cur), renames = Some(log))
  }

  /** Dim-update propagation (incremental view maintenance, r14): the
    * store holds a DENORMALIZED table (fact-keyed, dim attributes
    * inlined — the shape every reference Kudu target table had) and
    * a dimension row changes. The fact keys affected are scattered
    * across the key space, so key-range planning cannot prune — but
    * the SECONDARY BLOOM INDEX on the dim column can: file hits are
    * the blobs that might contain an affected dim key (probed with
    * the same xxhash64 the write-side stats job used, on the driver
    * against the manifest's blobs — dim deltas are batch-bounded by
    * nature, so their distinct hashes are collected), those files
    * alone are read and re-folded through `fold(affectedRows,
    * dimDelta)`, everything
    * else carries by reference. Bloom false positives cost an
    * identical-content rewrite of the extra file, never wrongness;
    * false negatives cannot occur (write-side and probe hashing are
    * the same code path). When the dim column clusters with the key
    * (tenant-within-time), a dim update touches a fraction of a
    * 100 TB table with NO second sort order — the IVM economics the
    * layout was built for. Same txn replay guard as [[mergeWith]];
    * requires a committed store and a declared `indexCol`.
    */
  def mergeByIndex(dimDelta: DataFrame,
                   fold: (DataFrame, DataFrame) => DataFrame,
                   txn: Option[Long] = None): Long = {
    require(indexCol.isDefined, "mergeByIndex needs a secondary index column")
    if (txn.exists(id => lastTxn.exists(_ >= id)))
      return currentVersion.getOrElse(-1L)
    val cur = currentVersion.getOrElse(throw new IllegalStateException(
      s"mergeByIndex on an empty store at $root"))
    val v = cur + 1L
    import spark.implicits._
    // hash through the STORED column's type, not the delta's runtime
    // type (ADVICE r14): xxhash64 takes different byte paths per
    // type, so an INT delta against a BIGINT store would otherwise
    // compute different hashes than the write-side stats job,
    // Bloom-prune every file, hit the empty-plan early return and
    // silently no-op the merge — the same silent-false-negative
    // failure mode plannedFilesPoint canonicalizes away with its
    // Cast-to-column-type probe.
    val storedType = schemaOf(cur)
      .flatMap(st => st.fields.find(_.name == indexCol.get).map(_.dataType))
    val dimProbe = storedType match {
      case Some(t) if dimDelta.schema(indexCol.get).dataType != t =>
        col(indexCol.get).cast(t)
      case _ => col(indexCol.get)
    }
    // fat-delta guard (r14 verdict task 5): the Bloom plan tests the
    // distinct probe-hash set against every file's blob — O(files ×
    // probes). For the designed dim-delta shape (dozens-to-thousands
    // of keys) that is the cheap path; a backfill-sized delta would
    // mean a driver-sized probe set. Past the bound the index stops
    // paying for itself anyway (most files hit), so fall back to the
    // FULL fold: every file affected, carried = none, one plain
    // full-snapshot publish. The guard collects at most one hash past
    // the bound — the driver stays bounded in both regimes.
    val probes: Array[Long] = dimDelta.select(xxhash64(dimProbe)).distinct()
      .limit(maxPlannedBroadcast + 1).as[Long].collect()
    lastIndexMergeFallback = probes.length > maxPlannedBroadcast
    if (lastIndexMergeFallback) {
      val folded = fold(readVersion(cur), dimDelta)
      return publish(v, writeDataFiles(folded, v), txn, Some(folded.schema),
        expectedParent = Some(cur))
    }
    // a file is affected when some probe might be in its blob (a file
    // with no blob is conservatively affected)
    val (affected, carried) = manifest(cur).partition(e => probes.exists(h =>
      e.bloom.forall(b => graft.functions.BloomAlgos.mightContain(b, h))))
    if (affected.isEmpty) return cur // no file can hold any affected key
    val folded = fold(readFiles(header(cur), affected.map(_.path)), dimDelta)
    if (carried.nonEmpty)
      schemaOf(cur).foreach(validateCarriedEvolution(_, folded.schema))
    publish(v, writeDataFiles(folded, v) ++ carried, txn,
      Some(folded.schema), expectedParent = Some(cur))
  }

  /** Schema-evolution validation for COMMITS THAT CARRY FILES (r15):
    * the recorded schema is the read schema for every carried file,
    * so a fold's schema may only evolve in ways old files can serve —
    * ADD a column (null-filled) or WIDEN one (the vectorized reader's
    * updaters). Everything else fails AT COMMIT TIME with the repair
    * path in the message, because it would otherwise fail — or
    * corrupt — at READ time, possibly much later:
    *   - DROP: carried files keep the bytes on disk; if the name were
    *     ever re-added, reads would resurrect STALE values instead of
    *     nulls (the field-id problem real formats solve) — dropping
    *     requires a full rewrite (commit()/optimize());
    *   - NARROW or retype (long→int, string→long, …): carried wide
    *     files cannot be read through the narrow schema.
    * Renames never pass through here ([[renameColumn]] is the
    * metadata path with its own generation mapping). Full-snapshot
    * commits rewrite every file, so they may reshape freely.
    */
  private def validateCarriedEvolution(
      from: StructType,
      to: StructType): Unit = {
    import org.apache.spark.sql.types._
    // Pinned to what Spark 4.1's VECTORIZED parquet reader actually
    // serves (ParquetVectorUpdaterFactory has IntegerToLong,
    // IntegerToDouble, FloatToDouble and the byte/short INT32 family —
    // and NOTHING for long→double, which is lossy and was excluded by
    // SPARK-40876). Every pair here is executed against a carried file
    // in StoreSpec's widen-whitelist case; admitting a pair the reader
    // can't serve would pass the commit gate and then fail every read
    // of the carried files — the exact failure this guard exists to
    // prevent.
    val widenable: Set[(DataType, DataType)] = Set(
      (IntegerType, LongType), (IntegerType, DoubleType),
      (FloatType, DoubleType),
      (ShortType, IntegerType), (ShortType, LongType),
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType))
    from.fields.foreach { f =>
      to.fields.find(_.name == f.name) match {
        case None => throw new IllegalStateException(
          s"fold dropped column '${f.name}' on a carried-file merge: " +
            "carried files keep the bytes, and a later re-add of the " +
            "name would resurrect stale values — drop via a full " +
            "rewrite (commit()/optimize()) instead")
        case Some(t) if t.dataType == f.dataType => ()
        case Some(t) if widenable((f.dataType, t.dataType)) => ()
        case Some(t) => throw new IllegalStateException(
          s"fold changed column '${f.name}' from ${f.dataType.simpleString} " +
            s"to ${t.dataType.simpleString} on a carried-file merge: only " +
            "widening evolutions serve carried files — reshape via a " +
            "full rewrite (commit()) instead")
      }
    }
  }

  /** The copy-on-write MERGE skeleton with a pluggable fold — the
    * file-pruning / carry-over machinery of [[merge]] for table
    * semantics other than last-write-wins CDC upsert. `init` builds
    * the v0 table from the first delta; `fold` combines the
    * AFFECTED slice of the stored table (files whose key range
    * intersects a delta key; possibly empty with the stored schema)
    * with the delta. Both must key their output on `keyCol`.
    * Use case: continuously-maintained aggregates (A22) — base and
    * delta partials union-aggregate additively, so a 100 TB metrics
    * table absorbs a micro-batch by rewriting only the files whose
    * key range the batch touches.
    */
  /** @param deleteOnly the fold can only REMOVE OR REWRITE rows of
    *   files the delta's keys actually cover (a purge), never insert
    *   new keys — so when no stored file covers any delta key the
    *   table is provably unchanged and the commit is skipped
    *   entirely (no carried-only version churn on no-op deletes).
    *   Upsert folds must leave this false: an all-new-key delta hits
    *   no file yet MUST commit (that is an insert).
    */
  def mergeWith(deltas: DataFrame, init: DataFrame => DataFrame,
                fold: (DataFrame, DataFrame) => DataFrame,
                txn: Option[Long] = None,
                deleteOnly: Boolean = false): Long = {
    // Idempotent-replay guard for NON-idempotent folds (additive
    // aggregates): foreachBatch can redeliver a batch whose merge
    // committed but whose checkpoint offset did not (crash between
    // the two) — last-write-wins folds absorb that, additive folds
    // would double-count. Callers pass the monotonic streaming
    // batchId; a replayed (<= last applied) txn is a no-op. The txn
    // id commits atomically with the version (manifest header).
    // (Plain method-level conditional, NOT a return from inside a
    // closure: a NonLocalReturnControl would be silently swallowed if
    // this method ever gained a catch-all try/catch, re-opening the
    // double-count window this guard closes.)
    if (txn.exists(id => lastTxn.exists(_ >= id)))
      return currentVersion.getOrElse(-1L)
    // NOTE: `deltas` is evaluated more than once (key-set collection,
    // then the fold; a fold written from inside its range exchange,
    // as merge's is, also feeds the range sample) — callers with an
    // expensive delta lineage should persist it first (the streaming
    // sink does).
    //
    // Null-key policy: a row whose key is null (or fails the long
    // cast — e.g. from_json on a malformed line nulls the field) has
    // no primary key to upsert against, so it is DROPPED here, like
    // the reference's log-and-skip of invalid records
    // [ref: KuduManager.scala:117-122]. Without this guard one poison
    // message would NPE the micro-batch and checkpoint replay would
    // re-deliver it forever, wedging the stream. Callers who need the
    // bad rows routed (not just skipped) should split them off with
    // CdcOps.parseWithQuarantine BEFORE merging.
    val keyed = deltas.filter(col(keyCol).cast("long").isNotNull)
    currentVersion match {
      case None =>
        // first batch all-poison: nothing to commit (an empty v0
        // would trip publish's non-empty invariant); report no-version
        if (keyed.isEmpty) -1L
        else commitAs(init(keyed), txn, basis = None)
      case Some(cur) =>
        val v = cur + 1L
        val all = manifest(cur)
        val split = splitByHits(all, keyed)
        if (split.isEmpty) return cur // empty fold: no version churn
        val (affected, carried) = split.get
        if (deleteOnly && affected.isEmpty) return cur // no-op purge
        // read the affected slice through readFiles (the manifest
        // schema), NEVER raw parquet: after an evolution, a raw read
        // of an old carried file would hand the fold a PRE-evolution
        // base — AggStream's plain unionByName would throw, and an
        // allowMissingColumns fold would publish the old schema back,
        // making the evolved column silently unreadable
        val baseAffected =
          if (affected.isEmpty) {
            // no file covers any delta key (all-new keys): merge the
            // delta against an empty keyed base of the stored schema
            readFiles(header(cur), Seq(all.head.path)).limit(0)
          } else readFiles(header(cur), affected.map(_.path))
        val folded = fold(baseAffected, keyed)
        // the fold's schema becomes the TABLE schema (add/widen
        // evolution: carried files null-fill new columns and widen
        // narrow ones on read; anything else is rejected HERE, at
        // commit time, not at some later read)
        if (carried.nonEmpty)
          schemaOf(cur).foreach(validateCarriedEvolution(_, folded.schema))
        publish(v, writeDataFiles(folded, v) ++ carried, txn,
          Some(folded.schema), expectedParent = Some(cur))
    }
  }

  /** Which stored files does a delta touch? Splits a manifest into
    * (affected, carried); None when the delta has no keys at all.
    *
    * The delta's distinct-key set can be BACKFILL-sized (1e8+ keys),
    * so it must never materialize on the driver. Instead, decompose
    * the manifest's file key-ranges into ELEMENTARY SEGMENTS — the
    * boundaries are the sorted distinct endpoints, at most 2×files of
    * them, and every segment lies either fully inside or fully outside
    * each file's range. [[hitSegments]] maps every delta key to its
    * segment in one distributed pass and returns only the hit
    * segments, so the file-hit decision it yields is EXACT (a file is
    * hit iff some hit segment starts within its range), not a
    * conservative over-approximation.
    */
  private def splitByHits(all: Seq[DataFileEntry], keyed: DataFrame)
      : Option[(Seq[DataFileEntry], Seq[DataFileEntry])] = {
    val bnd: Array[Long] =
      (all.map(_.minKey) ++ all.map(_.maxKey + 1L)).distinct.sorted.toArray
    val hitSegs: Array[Int] = hitSegments(keyed, bnd)
    if (hitSegs.isEmpty) None
    else {
      // segment j covers [bnd(j), bnd(j+1)); j = -1 (below all files)
      // and j = len-1 (above: the top boundary is max(maxKey)+1) can
      // hit nothing but still witness "delta has keys"
      val hitStarts: Array[Long] = hitSegs
        .filter(j => j >= 0 && j < bnd.length - 1).map(bnd(_)).sorted
      def hit(f: DataFileEntry): Boolean = {
        // any hit-segment start within [minKey, maxKey]? (file
        // endpoints are themselves boundaries, so a segment
        // containing a key of this file necessarily starts here)
        val i = java.util.Arrays.binarySearch(hitStarts, f.minKey)
        val from = if (i >= 0) i else -i - 1
        from < hitStarts.length && hitStarts(from) <= f.maxKey
      }
      Some(all.partition(hit))
    }
  }

  /** The distributed delta→segment pass behind [[splitByHits]]: map
    * every delta key to its elementary segment (per-partition binary
    * search + local dedup) and return only the DISTINCT hit segments.
    * One job, no shuffle: each partition sends its deduped segment ids
    * and the driver takes the distinct, so driver traffic is bounded
    * by partitions × segments, never by delta cardinality.
    */
  private def hitSegments(keyed: DataFrame, bnd: Array[Long]): Array[Int] = {
    val bndB = spark.sparkContext.broadcast(bnd)
    import keyed.sparkSession.implicits._
    try {
      val perPartition = keyed.select(col(keyCol).cast("long")).as[Long]
        .mapPartitions { it =>
          val b = bndB.value
          val seen = new java.util.HashSet[Integer]()
          it.foreach { k =>
            // upper_bound: count of boundaries <= k, minus 1
            var lo = 0; var hi = b.length
            while (lo < hi) {
              val m = (lo + hi) >>> 1
              if (b(m) <= k) lo = m + 1 else hi = m
            }
            seen.add(lo - 1)
          }
          seen.iterator().asScala.map(_.intValue)
        }.collect()
      lastMergeSummaryRows = perPartition.length.toLong
      perPartition.distinct
    } finally bndB.unpersist(blocking = false)
  }

  /** Committed versions still readable (oldest first) — time travel
    * surface: `readVersion(v)` on any of these is snapshot-isolated.
    */
  def versions(): Seq[Long] = {
    val manifestName = "m(\\d+)\\.tsv".r
    val ml = Files.list(manifestDir)
    try ml.iterator().asScala.map(_.getFileName.toString)
      .collect { case manifestName(n) => n.toLong }.toVector.sorted
    finally ml.close()
  }

  /** Change feed between two committed versions — what downstream
    * incremental consumers (index refresh, training-shard recompute)
    * read instead of re-scanning the table. File-level diff first:
    * the copy-on-write merge carries unchanged files BY PATH, so only
    * files unique to one side are read at all — change-feed cost
    * scales with what changed, not table size. Returns vTo's rows
    * from its new/rewritten files minus vFrom's rows from its
    * dropped/rewritten files (exceptAll over just those files): the
    * upserted row versions, exactly.
    */
  def changes(vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"changes($vFrom, $vTo): vFrom must be <= vTo")
    val fromM = manifestLite(vFrom)
    val toM = manifestLite(vTo)
    val fromPaths = fromM.map(_.path).toSet
    val toPaths = toM.map(_.path).toSet
    val added = toM.filterNot(f => fromPaths(f.path)).map(_.path)
    val dropped = fromM.filterNot(f => toPaths(f.path)).map(_.path)
    // read each side through ITS version's manifest schema (readFiles)
    // — plan-time exact under schema evolution, and no footer-inference
    // job per construction (a raw spark.read.parquet without a schema
    // runs one every call)
    val newRows =
      if (added.isEmpty) readVersion(vTo).limit(0)
      else readFiles(header(vTo), added)
    val oldRows =
      if (dropped.isEmpty) newRows.limit(0)
      else readFiles(header(vFrom), dropped)
    newRows.exceptAll(oldRows)
  }

  /** Table maintenance (the OPTIMIZE/compact command of a table
    * format): the copy-on-write merge accretes one file set per
    * delta, so long-running ingest fragments the table; this rewrites
    * the CURRENT snapshot into `filesPerCommit` freshly
    * range-clustered files as a new version. Readers of prior
    * versions are unaffected (snapshot isolation); the rewrite cost
    * is one full pass, paid when the operator chooses, not per merge.
    */
  def optimize(): Long = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version in $root"))
    // basis pinned to the version actually rewritten: a merge landing
    // between the read and the publish must abort this rewrite (it
    // would silently resurrect pre-merge rows), not be overwritten
    commitAs(readVersion(v), txn = None, basis = Some(v))
  }

  /** Reference-counting vacuum: drop manifests older than the
    * retention window, then delete any data file no retained
    * manifest references (files are shared across versions by the
    * copy-on-write merge, so version-directory deletion would break
    * carried-over references). The most recent `keepVersions`
    * versions — the current one plus `keepVersions - 1` prior — stay
    * readable so in-flight snapshot-isolated readers finish safely.
    */
  private def vacuum(current: Long): Unit = {
    val cutoff = current - keepVersions
    // Files referenced by the manifests about to be DROPPED are
    // reclaimed immediately below (they fell out of retention by
    // version arithmetic — deterministic, test-visible). Files
    // referenced by NO manifest at all are a different population:
    // either a crashed attempt's debris, or a CONCURRENT writer's
    // in-flight attempt dir (its files exist before its publish).
    // Those are age-gated like DV staging dirs — deleting them
    // immediately yanks the directory out from under a live write
    // (r17: the two-writer race began failing once the winner reached
    // vacuum one job sooner).
    val dropped = versions().filter(_ <= cutoff)
    val droppedRefs: Set[String] =
      dropped.flatMap(v => manifestLite(v).map(e => normalizePath(e.path))).toSet
    dropped.foreach(v => Files.deleteIfExists(manifestDir.resolve(s"m$v.tsv")))
    // union of paths still referenced by any retained manifest (listed
    // again, so a version committed meanwhile counts as retained)
    val retainedVersions = versions()
    val retained: Set[String] =
      retainedVersions.flatMap(manifestLite(_).map(e => normalizePath(e.path))).toSet
    // deletion vectors are version-owned: drop any committed
    // _deletes entry no retained header references. Staging tmps
    // (dot-prefixed) normally belong to an in-flight writer and are
    // cleared by that writer's own publish/abort path — but a CRASH
    // between stage and land orphans the dir forever (the attempt
    // token in the name means no later attempt overwrites it), so
    // anything dot-prefixed older than the staging retention window
    // is a dead writer's garbage and is reclaimed here, mirroring how
    // orphaned data files are.
    val now = System.currentTimeMillis()
    def pastStagingWindow(p: Path): Boolean = {
      val age = try now - Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => -1L }
      age > SnapshotStore.dvStageRetentionMs
    }
    if (Files.exists(deletesDir)) {
      val retainedDvs: Set[String] = retainedVersions.flatMap(dvName).toSet
      val dl = Files.list(deletesDir)
      try dl.forEach { d =>
        val name = d.getFileName.toString
        val orphanedStage = name.startsWith(".") && pastStagingWindow(d)
        if ((!name.startsWith(".") && !retainedDvs.contains(name)) ||
            orphanedStage)
          org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      } finally dl.close()
    }
    val dataRoot = Paths.get(root, "data")
    if (Files.exists(dataRoot)) {
      // an attempt dir a live writer is still filling: its parquet
      // sits under `_temporary` until the job commits, and entries
      // vanish from it as tasks commit. Neither pass enters it while
      // it is younger than the staging window.
      def inFlight(d: Path): Boolean =
        d.getParent == dataRoot && Files.exists(d.resolve("_temporary")) &&
          !pastStagingWindow(d)
      // pass 1: delete unreferenced parquet files (+ checksum
      // siblings). The listing is materialized BEFORE deleting.
      listTree(dataRoot, inFlight).foreach { f =>
        val name = f.getFileName.toString
        val norm = normalizePath(f.toUri.toString)
        if (name.endsWith(".parquet") && Files.isRegularFile(f) &&
            !retained(norm) &&
            // never-referenced files (a live concurrent attempt, or a
            // crashed one) are only reclaimed past the staging window;
            // files a dropped manifest referenced go immediately
            (droppedRefs(norm) || pastStagingWindow(f))) {
          Files.deleteIfExists(f)
          Files.deleteIfExists(f.resolveSibling(s".$name.crc"))
        }
      }
      // pass 2: a version dir with no parquet left holds only write
      // markers — remove it, unless a live writer is still filling it
      listTree(dataRoot, _ => true).filter(d => Files.isDirectory(d) && !inFlight(d))
        .foreach { d =>
          if (!listTree(d, _ => true).exists(_.getFileName.toString.endsWith(".parquet")))
            (listTree(d, _ => false).reverse :+ d).foreach { p =>
              try Files.deleteIfExists(p)
              catch { case _: java.nio.file.DirectoryNotEmptyException => () }
            }
        }
    }
  }

  /** Every path under `dir` (not `dir` itself), parents before their
    * children, listed with `walkFileTree`: an entry that vanishes
    * under the walk (a concurrent writer's task commit moves its
    * `_temporary` files) is passed over, and no directory for which
    * `prune` holds is entered (it is listed itself).
    */
  private def listTree(dir: Path, prune: Path => Boolean): Seq[Path] = {
    import java.nio.file.{FileVisitResult, NoSuchFileException, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val out = Vector.newBuilder[Path]
    def gone(e: java.io.IOException): FileVisitResult = e match {
      case null | _: NoSuchFileException => FileVisitResult.CONTINUE
      case _ => throw e
    }
    Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (d == dir) FileVisitResult.CONTINUE
        else {
          out += d
          if (prune(d)) FileVisitResult.SKIP_SUBTREE else FileVisitResult.CONTINUE
        }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        out += f; FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult = gone(e)
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = gone(e)
    })
    out.result()
  }

  /** input_file_name() and Path.toUri render the same file as
    * file:/... vs file:///... — and BOTH are URL-ENCODED URIs, while
    * manifest rows and spark.read paths are raw filesystem paths. A
    * `file:` input is therefore stripped AND percent-decoded (a root
    * with a space would otherwise enter the manifest as `%20` and
    * every later read of it would miss); a raw input passes through
    * untouched. '+' is legal in a URI path segment (it only means
    * space in form encoding), so it is protected before the decode.
    */
  private def normalizePath(p: String): String =
    if (p.startsWith("file:"))
      java.net.URLDecoder.decode(
        p.replaceFirst("^file:/+", "/").replace("+", "%2B"),
        java.nio.charset.StandardCharsets.UTF_8)
    else p

  private lazy val absRoot: String =
    Paths.get(root).toAbsolutePath.normalize().toString

  /** Manifest row → absolute path (relative rows resolve against the
    * CURRENT root; absolute rows from pre-relative manifests pass
    * through). */
  private def resolvePath(p: String): String =
    if (p.startsWith("/")) p
    else if (p.startsWith("file:")) normalizePath(p)
    else s"$absRoot/$p"

  /** Absolute path → manifest row (root-relative when under the
    * root, which every file written by this store is). */
  private def relativizePath(p: String): String = {
    val abs = normalizePath(p)
    if (abs.startsWith(absRoot + "/")) abs.substring(absRoot.length + 1) else abs
  }
}

/** Thrown by the optimistic-concurrency commit point when another
  * writer advanced the pointer past the version this commit was
  * built from — the caller's move is re-read + re-fold + retry (the
  * content is stale, not just the version number).
  */
final class ConcurrentCommitException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

object SnapshotStore {
  /** The fields of one manifest header line. */
  private final case class Header(txn: Option[Long],
                                  schema: Option[StructType],
                                  renames: Seq[(Long, String, String)],
                                  dv: Option[String])

  /** One write generation of a read (the store's `generations`):
    * its files, the schema they are read through, and the current name
    * each field of that schema maps forward to.
    */
  private final case class Generation(files: Seq[String], schema: StructType,
                                      names: Seq[String])

  /** The on-disk schema of a deletion vector: (root-relative path, key). */
  private val DvSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.LongType)))

  /** The most rows a lookup's planned files may hold (the manifest's
    * `rows`) for the lookup to read them on the driver (the store's
    * `lookup`). Measured on one parquet file of N rows × 7 columns at
    * 4 cores, JIT warm, median wall of `collect()` on the driver read
    * against the same file's Spark scan:
    *   - a point lookup (1 row kept) crosses over near 250 000 rows
    *     (200 000: 54 against 65 ms; 400 000: 105 against 65 ms), and a
    *     500-key range (a 1% range read of a 50 000-key store) near
    *     270 000 rows;
    *   - a range that keeps EVERY planned row crosses over near 25 000
    *     rows (25 000: 84 against 80 ms; 50 000: 170 against 136 ms),
    *     because each kept row then passes through the local relation's
    *     own planning and collect.
    * 65 536 keeps the selective lookups the store serves (a point or a
    * 1% range planning one to five 12 500-row files) on the driver, and
    * bounds both the worst case (a range keeping all of them, under 2×
    * the scan) and the driver memory a lookup can take.
    */
  private[graft] val LocalReadMaxRows: Long = 65536L

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SnapshotStore])

  /** A dot-prefixed `_deletes` staging dir older than this belongs to
    * a crashed writer (a live stage→land window is seconds) and is
    * reclaimed by vacuum. Spec-visible so the orphan case can age a
    * staging dir artificially.
    */
  private[graft] val dvStageRetentionMs: Long = 3600000L

  // one intrinsic lock per canonical store root: FileChannel file
  // locks guard cross-PROCESS writers but throw
  // OverlappingFileLockException on same-JVM contention, so the
  // in-process level is a plain monitor
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[store] def rootMonitor(root: String): Object =
    monitors.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize().toString,
      _ => new Object)
}
