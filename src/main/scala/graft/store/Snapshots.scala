package graft.store

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated, manifest-tracked Parquet table — the minimal "table
  * format" layer (the Iceberg/Delta idea, re-expressed with Spark + Hadoop FS
  * primitives, no external dependency):
  *
  *   - every [[commit]] writes IMMUTABLE data files plus a NEW manifest
  *     listing every live file with per-file zone stats (rows, min/max of
  *     `statsCol`), then swaps one pointer file atomically;
  *   - readers resolve the pointer, read ONE manifest (O(#files) metadata,
  *     never a recursive directory listing — the operation that dies first
  *     on an object store holding a 100 TB table), and open only the files
  *     it lists;
  *   - [[readAt]] gives time travel: any retained version reconstructs
  *     exactly, because data files are never mutated — a manifest IS the
  *     table state;
  *   - [[readWhere]] plans a Column predicate against the manifest's zone
  *     stats and bloom sidecars to skip whole files before Spark ever
  *     plans the scan, then applies the predicate exactly — manifest-level
  *     pruning composes with (and happens above) Parquet row-group
  *     skipping; [[planStatsWhere]] reports the plan's (kept, total) file
  *     census;
  *   - [[readIncremental]] reads only the files ADDED between two versions
  *     — the CDC/backfill primitive: a downstream consumer checkpoints the
  *     last version it processed and each run touches new data only;
  *   - [[expire]] reclaims space by dropping files unreferenced by the
  *     retained manifests — retention is the ONLY thing that deletes data.
  *
  * Crash safety: the commit order is data files → manifest (tmp + rename)
  * → pointer (atomic overwrite-rename via [[FileContext]]). A crash before
  * the pointer swap leaves the live pointer untouched — readers never see
  * a partial commit; [[recover]] deletes the orphaned manifest/batch so
  * the version number is reusable.
  *
  * Concurrent writers (optimistic, r12): the distributed data write stages
  * to a UNIQUE directory outside any critical section, so two pipelines
  * committing simultaneously overlap their expensive work; only the
  * metadata commit — re-read the pointer, allocate the next version,
  * rename the staged batch in, claim the manifest, swap the pointer — runs
  * serialized (per-store JVM lock; across JVMs the manifest claim is
  * atomic-exclusive: rename-WITHOUT-overwrite on HDFS-class filesystems,
  * link(2)-style create-exclusive on file:// where POSIX rename silently
  * replaces, or an injected [[SnapshotStore.ClaimArbiter]] — conditional
  * PUT / lease / catalog row — on S3-class stores that have neither; a
  * lost race fails loudly rather than silently orphaning a commit). A per-commit nonce in the manifest header is re-verified
  * immediately before the pointer swap, so a writer stalled past the
  * debris grace window can never acknowledge a version another writer
  * has since re-claimed (r13; the r12 stalled-writer finding).
  * Append-style commits rebase automatically: the carried file set is
  * re-read from whatever the pointer names at claim time. Rewrite-style
  * commits ([[compactSmall]], [[deleteWhere]]) were PLANNED against a
  * specific version, so a concurrent commit in between fails them with
  * `ConcurrentModificationException` — re-plan and re-run, the Iceberg
  * validation discipline. [[commitRewrite]] is documented
  * replace-whole-table, last-writer-wins. Crash-debris cleanup is
  * AGE-GATED (`DebrisGraceMs`): unacknowledged artifacts younger than the
  * grace window are presumed to be a live cross-JVM writer mid-commit —
  * doCommit refuses loudly and recover() skips them — so no cleanup path
  * can ever delete a commit that is about to acknowledge.
  *
  * The reference has no table-format layer (its ClickHouse store mutates in
  * place); this is the beyond-reference capability a 100 TB Spark-native
  * corpus store needs: reproducible training runs pin a snapshot version,
  * loaders consume increments, and compaction/expiry never break a reader
  * mid-scan.
  *
  * @param statsCol primary numeric column whose per-file min/max the
  *   manifest records for zone-map pruning (cast to double in the
  *   manifest); [[compactSmall]] range-sorts on it.
  * @param secondaryStats further columns to record bounds for — the
  *   Iceberg-style multi-column zone map. Pruning power on a secondary
  *   column tracks how clustered the DATA is on it (bounds are exact
  *   either way); any [[readWhere]] predicate on the column prunes by it.
  */
final class SnapshotStore(spark: SparkSession, val path: String,
    statsCol: String, secondaryStats: Seq[String] = Nil,
    arbiter: Option[SnapshotStore.ClaimArbiter] = None,
    bloomCols: Seq[String] = Nil,
    bloomCacheCap: Int = SnapshotStore.BloomCacheCap) {

  private val statsCols: Seq[String] = statsCol +: secondaryStats

  /** One manifest line: an immutable data file plus its zone stats.
    * `batch` is the version whose commit added the file — the basis of
    * [[readIncremental]]; `bytes` is the physical size [[compactSmall]]
    * bin-packs on; `minS`/`maxS` bound the PRIMARY stats column and
    * `extra` holds (min, max) per secondary column, in declaration order.
    * `dv` names the DELETE-VECTOR sidecars (under `_dv/`) whose masked
    * row positions readers anti-apply to this file — merge-on-read
    * deletion (r15; the Iceberg v2 / Delta DV idea): `rows` stays the
    * PHYSICAL row count, `dvRows` how many of them the vectors mask.
    * Zone/bloom stats remain sound over a masked file (deletion only
    * removes rows — pruning stays a superset).
    */
  final case class FileEntry(file: String, batch: Long, rows: Long,
      minS: Double, maxS: Double, bytes: Long,
      extra: Seq[(Double, Double)] = Nil,
      dv: Seq[String] = Nil, dvRows: Long = 0L,
      nulls: Seq[Long] = Nil) {
    /** Bounds of the i-th stats column (0 = primary). */
    def bounds(i: Int): (Double, Double) =
      if (i == 0) (minS, maxS) else extra(i - 1)
    /** Rows a reader actually sees: physical minus DV-masked. */
    def visibleRows: Long = rows - dvRows
  }

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(path).getFileSystem(hconf)
  private def manifestPath(v: Long) =
    new Path(f"$path%s/_manifests/v$v%05d.manifest")
  private def batchDir(v: Long) = new Path(f"$path%s/data/b$v%05d")
  private def pointerFile = new Path(s"$path/_latest")

  /** The committed version the pointer names, if any. */
  def latestVersion: Option[Long] = {
    if (!fs.exists(pointerFile)) None
    else {
      val in = fs.open(pointerFile)
      try {
        val raw = new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8).trim
        // A damaged pointer — content that is not a long (truncated or
        // hand-edited), or one naming a missing manifest — is treated as
        // absent rather than thrown, so it routes through the documented
        // damaged-store path: doCommit's guard refuses and recover() repairs.
        raw.toLongOption.filter(v => fs.exists(manifestPath(v)))
      } finally in.close()
    }
  }

  /** All complete (renamed-in) manifest versions, ascending. */
  def versions: Seq[Long] = {
    val dir = new Path(s"$path/_manifests")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted
  }

  /** TWO-LEVEL MANIFESTS (r13; Iceberg's manifest-list idea): a version's
    * manifest is a LIST of `@group` references to immutable GROUP files,
    * each holding the entry TSV for the files one commit (or one rewrite
    * residue) produced. An append carries every previous group BY
    * REFERENCE and writes one new group — commit metadata cost is
    * O(changed files + #groups), never O(table files). A partial rewrite
    * (deleteWhere / merge / compaction) rewrites only the groups it
    * touched. Legacy single-level manifests (inline entry lines) still
    * read; a commit on top of one migrates the inline entries into a
    * group file once.
    */
  /** A manifest group at commit time. Ref-only carries (the pure-append
    * fast path) have `entries` EMPTY and carry the previous list's
    * summary/file count instead — the group file is never opened; groups
    * being (re)written carry their entries and summarize from them.
    */
  private final case class Group(ref: Option[String], names: Seq[String],
    entries: Seq[FileEntry], files: Int = -1,
    summary: Option[Seq[(Double, Double)]] = None, rows: Long = -1L,
    origin: Option[String] = None,
    physRows: Long = -1L, nullsSum: Seq[Long] = Nil)

  private def groupPath(name: String) = new Path(s"$path/_manifests/$name")

  // group files are immutable and uuid-named, so a per-store cache is safe;
  // stores are short-lived objects, the cache dies with them
  private val groupCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[String], Seq[FileEntry])]()

  // data files are immutable too: one footer-schema read per probe-typing
  // sample file, driver-local (Bridge.parquetSchema), cached forever
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def readLines(p: Path): Seq[String] = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  /** Integrity: metadata files carry a CRC32 of the non-header body — a
    * truncated or bit-flipped manifest/group must fail LOUDLY, not surface
    * as a partial table (the failure mode object stores actually produce).
    * Absence of the header is tolerated (pre-crc files read unchecked).
    */
  private def checkCrc(lines: Seq[String], what: String): Unit =
    lines.find(_.startsWith("#crc=")).foreach { h =>
      val body = lines.filterNot(_.startsWith("#")).mkString("\n")
      val crc = new java.util.zip.CRC32
      crc.update(body.getBytes(StandardCharsets.UTF_8))
      require(h.stripPrefix("#crc=") == java.lang.Long.toHexString(crc.getValue),
        s"snapshot $what at $path fails its checksum — metadata corrupt; " +
          "restore the file or expire past it")
    }

  private def parseEntries(bodyLines: Seq[String]): Seq[FileEntry] =
    bodyLines.map { l =>
      val a = l.split("\t")
      // fields beyond 6 are (min, max) pairs for the secondary stats
      // columns named by the #stats= header, plus an optional trailing
      // `dv=<name>+<name>:<maskedRows>` delete-vector field (r15) —
      // distinguishable unambiguously: stats fields are doubles
      val (tagged, statF) = a.drop(6).partition(f =>
        f.startsWith("dv=") || f.startsWith("nc="))
      val dvF = tagged.filter(_.startsWith("dv="))
      val (dvNames, dvRows) = dvF.headOption.map { f =>
        val body = f.stripPrefix("dv=")
        val i = body.lastIndexOf(':')
        (body.take(i).split("\\+").toSeq, body.drop(i + 1).toLong)
      }.getOrElse((Seq.empty[String], 0L))
      // per-stats-column PHYSICAL null counts (r16), -1 = unknown;
      // absent field = legacy entry, no null information at all
      val nulls = tagged.find(_.startsWith("nc=")).map(
        _.stripPrefix("nc=").split(",").toSeq.map(_.toLong))
        .getOrElse(Seq.empty[Long])
      FileEntry(a(0), a(1).toLong, a(2).toLong, a(3).toDouble, a(4).toDouble,
        a(5).toLong,
        statF.grouped(2).collect { case Array(mn, mx) =>
          (mn.toDouble, mx.toDouble) }.toSeq,
        dvNames, dvRows, nulls)
    }

  private def statsHeaderOf(lines: Seq[String]): Seq[String] =
    lines.find(_.startsWith("#stats="))
      .map(_.stripPrefix("#stats=").split(",").toSeq)
      .getOrElse(Seq(statsCol))

  private def readGroupFile(name: String): (Seq[String], Seq[FileEntry]) =
    groupCache.computeIfAbsent(name, _ => {
      val p = groupPath(name)
      require(fs.exists(p),
        s"manifest group $name is missing at $path — metadata corrupt or " +
          "a referenced group was expired; restore the file or expire past " +
          "the versions referencing it")
      val lines = readLines(p)
      checkCrc(lines, s"group $name")
      (statsHeaderOf(lines), parseEntries(lines.filterNot(_.startsWith("#"))))
    })

  /** One `@` line of a manifest list: the group file name plus its
    * GROUP-LEVEL summary — file count, net (DV-masked rows excluded) row
    * count (list format v2, r15), and whole-group (min, max) per list
    * stats column. The summary is what lets [[readWhere]] skip a group
    * without opening its file, a pure append carry every previous group
    * without reading any of them, and [[snapshots]] census a version from
    * headers alone. Legacy lists carry bare `@name` lines (files = -1,
    * no summary) or v1 lines (no row count, rows = -1) — readers treat
    * them conservatively and the next non-append commit heals them.
    */
  private final case class RefLine(name: String, files: Int, rows: Long,
    summary: Option[Seq[(Double, Double)]],
    physRows: Long = -1L, nulls: Seq[Long] = Nil)

  private final case class ListInfo(names: Seq[String], refs: Seq[RefLine],
    inline: Option[Group], strStats: Seq[String] = Nil)

  /** A version's manifest parsed to the REF level — no group file opened.
    * Line format is header-versioned: `#v=2` lists carry
    * `@name files rows bounds…` (rows was indistinguishable from bounds
    * by field count alone: v1 with k stats columns and v2 with k-1 both
    * have 2+2k fields).
    */
  private def listInfoOf(v: Long): ListInfo = {
    val p = manifestPath(v)
    require(fs.exists(p),
      s"snapshot version $v is not retained at $path (expired or never committed)")
    val lines = readLines(p)
    checkCrc(lines, s"manifest v$v")
    val names = statsHeaderOf(lines)
    val v2 = lines.contains("#v=2")
    val body = lines.filterNot(_.startsWith("#"))
    val (refLines, inline) = body.partition(_.startsWith("@"))
    val refs = refLines.map { l =>
      val a = l.stripPrefix("@").split("\t")
      if (a.length < 2) RefLine(a(0), -1, -1L, None)
      else {
        val (rows, boundsFrom) = if (v2) (a(2).toLong, 3) else (-1L, 2)
        // r16: an optional trailing `nc=<physRows>:<n0>,<n1>,...` field —
        // group-level PHYSICAL null counts (and the physical row sum they
        // test against), -1 = unknown per column; absent = no information
        val (tagged, boundF) = a.drop(boundsFrom).partition(_.startsWith("nc="))
        val (phys, ncs) = tagged.headOption.map { t =>
          val body = t.stripPrefix("nc=")
          val i = body.indexOf(':')
          (body.take(i).toLong,
            body.drop(i + 1).split(",").toSeq.map(_.toLong))
        }.getOrElse((-1L, Seq.empty[Long]))
        RefLine(a(0), a(1).toInt, rows,
          Some(boundF.grouped(2).collect { case Array(mn, mx) =>
            (mn.toDouble, mx.toDouble) }.toSeq),
          phys, ncs)
      }
    }
    // `#strstats=` (r17): the subset of stats columns whose zone bounds
    // were recorded through the string prefix projection
    // ([[SnapshotStore.strOrd]]). Absent on old manifests — those never
    // wrote string zones (a string stats column aggregated to NaN), so
    // the planner's numeric treatment of unmarked columns stays sound.
    val strStats = lines.find(_.startsWith("#strstats="))
      .map(_.stripPrefix("#strstats=").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    ListInfo(names, refs,
      if (inline.nonEmpty) Some(Group(None, names, parseEntries(inline)))
      else None, strStats)
  }

  /** A version's groups, raw (each with its OWN stats names — alignment to
    * the version's effective names happens in [[readManifest]]).
    */
  private def readGroupsOf(v: Long): Seq[Group] = {
    val info = listInfoOf(v)
    info.refs.map { r =>
      val (gNames, es) = readGroupFile(r.name)
      Group(Some(r.name), gNames, es)
    } ++ info.inline
  }

  /** Re-express entry bounds recorded under `from` names in `to` names —
    * per-file bounds are facts about immutable files and must survive a
    * writer that declares different columns. A (file, column) with no
    * recorded bounds gets (-Inf, +Inf) — "no information", which no prune
    * can act on. Without name alignment, reopening the store with
    * different stats columns would reinterpret one column's bounds as
    * another's and prune files that DO contain matches.
    */
  private def alignEntries(from: Seq[String], to: Seq[String],
      es: Seq[FileEntry]): Seq[FileEntry] = {
    if (from == to) es
    else {
      val noInfo = (Double.NegativeInfinity, Double.PositiveInfinity)
      es.map { e =>
        val known: Map[String, (Double, Double)] =
          from.zipWithIndex.flatMap { case (n, i) =>
            if (i == 0) Some(n -> ((e.minS, e.maxS)))
            else e.extra.lift(i - 1).map(n -> _)
          }.toMap
        def of(c: String) = known.getOrElse(c, noInfo)
        val (mn0, mx0) = of(to.head)
        // null counts re-key by name like bounds; -1 = no information
        val knownNc: Map[String, Long] =
          from.zipWithIndex.flatMap { case (n, i) =>
            e.nulls.lift(i).map(n -> _) }.toMap
        e.copy(minS = mn0, maxS = mx0, extra = to.tail.map(of),
          nulls = if (e.nulls.isEmpty) Nil
            else to.map(c => knownNc.getOrElse(c, -1L)))
      }
    }
  }

  private def readManifest(v: Long): Seq[FileEntry] = {
    val eff = statsNamesOf(v)
    readGroupsOf(v).flatMap(g => alignEntries(g.names, eff, g.entries))
  }

  /** Stats column names a version's manifest carries (header-declared;
    * pre-multicolumn manifests default to the primary column alone).
    */
  def statsNamesOf(v: Long): Seq[String] = {
    val p = manifestPath(v)
    require(fs.exists(p), s"snapshot version $v is not retained at $path")
    statsHeaderOf(readLines(p))
  }

  /** The writer tag a version's manifest was committed under, if any. */
  private def readTagOf(v: Long): Option[String] = {
    val p = manifestPath(v)
    if (!fs.exists(p)) None
    else readLines(p).headOption.filter(_.startsWith("#tag="))
      .map(_.stripPrefix("#tag="))
  }

  /** The acknowledged version committed under `tag`, if one exists. */
  def taggedVersion(tag: String): Option[Long] = {
    val ceiling = latestVersion.getOrElse(return None)
    versions.filter(_ <= ceiling).find(readTagOf(_).contains(tag))
  }

  /** Write a small driver-side metadata file via tmp + rename so its
    * PRESENCE implies completeness. Manifests are O(#files) — the same
    * driver-written-metadata shape as Iceberg's manifest lists.
    */
  private def writeAtomic(dst: Path, content: String, overwrite: Boolean): Unit = {
    // The pointer swap must be ATOMIC REPLACE: a reader must always see
    // either the old or the new content, never an absent pointer. On the
    // local filesystem Hadoop's FileContext OVERWRITE rename is
    // delete-then-rename — a concurrent reader in that window sees no
    // pointer and trips the damaged-store guard (the r12 race-test
    // failure) — so local paths write RAW + NIO ATOMIC_MOVE (POSIX
    // rename(2), atomic replace), bypassing the ChecksumFileSystem layer
    // entirely: a crc sidecar can't be swapped atomically with its file,
    // so any stale sidecar is dropped and the pointer reads unchecked.
    // HDFS-class filesystems rename atomically server-side.
    if (overwrite && fs.getUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir = Paths.get(dst.getParent.toUri.getPath)
      Files.createDirectories(dir)
      val tmp = dir.resolve(dst.getName + ".tmp")
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      Files.deleteIfExists(dir.resolve("." + dst.getName + ".crc"))
      Files.deleteIfExists(dir.resolve("." + dst.getName + ".tmp.crc"))
      Files.move(tmp, dir.resolve(dst.getName),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    } else if (!overwrite && arbiter.nonEmpty) {
      // Injected claim primitive (docs/OBJECT-STORES.md CAS upgrade path):
      // on S3-class stores neither rename nor link exists, so the
      // atomic-exclusive create is delegated — conditional PUT
      // (If-None-Match: *), a lock-service lease, or a catalog row. The
      // arbiter owns ONLY exclusivity; content bytes are what we hand it.
      arbiter.get.claim(dst, content.getBytes(StandardCharsets.UTF_8))
    } else if (!overwrite && fs.getUri.getScheme == "file") {
      // Rename-without-overwrite is the cross-JVM commit CLAIM, but
      // Hadoop's RawLocalFileSystem delegates to POSIX rename(2), which
      // silently REPLACES an existing destination — two drivers sharing a
      // file:// (or NFS) store path could both "claim" the same version
      // and one commit would vanish. Hard-link creation (link(2)) is
      // atomic AND exclusive, so the loser of the race throws here as a
      // concurrent-commit error instead of destroying the winner's
      // manifest. The tmp name is per-attempt unique so two claimants
      // never collide on the staging file either.
      import java.nio.file.{Files, Paths}
      val dir = Paths.get(dst.getParent.toUri.getPath)
      Files.createDirectories(dir)
      val tmp = dir.resolve(dst.getName + ".tmp-" + java.util.UUID.randomUUID())
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      // bypassing ChecksumFileSystem: drop any stale crc sidecar so later
      // checksummed reads of this name can't mismatch
      Files.deleteIfExists(dir.resolve("." + dst.getName + ".crc"))
      try { Files.createLink(dir.resolve(dst.getName), tmp); () }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"commit claim lost: $dst already exists — a concurrent writer " +
              "claimed this version first; re-run the commit")
      } finally { Files.deleteIfExists(tmp); () }
    } else {
      val tmp = new Path(dst.getParent, dst.getName + ".tmp")
      fs.mkdirs(dst.getParent)
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      if (overwrite) {
        FileContext.getFileContext(dst.toUri, hconf)
          .rename(tmp, dst, Options.Rename.OVERWRITE)
        ()
      } else if (!fs.rename(tmp, dst)) {
        throw new java.io.IOException(s"snapshot metadata rename failed: $tmp -> $dst")
      }
    }
  }

  // ---- HIDDEN PARTITIONING / PARTITION EVOLUTION (r15; the Iceberg
  // idea, re-expressed over zone maps): the store can declare a LAYOUT —
  // a Spark SQL transform expression plus a target file count — and every
  // subsequent commit clusters its rows on the transform before writing,
  // so each file covers few transform values and the zone maps on the
  // transform's SOURCE columns turn tight. Readers never address
  // partitions (they prune by zones/blooms), so changing the layout
  // rewrites NO history: files from different layout epochs coexist in
  // one table, each pruning under the stats its own layout produced.
  // The per-commit layout is recorded in the manifest header (`#layout=`)
  // as the audit trail; paths never encode partition values — the
  // GridStore's date-in-path scheme is exactly what this replaces.

  private def layoutPath = new Path(s"$path/_layout")

  /** Declare the layout for FUTURE commits: `exprSql` is any Spark SQL
    * expression over the table's columns (e.g. `date_trunc('day', ts)`,
    * `event_id % 16`), `files` the per-commit target file count.
    * Atomic replace; affects no existing file.
    */
  def setLayout(exprSql: String, files: Int): Unit = {
    require(files > 0, "layout file count must be positive")
    require(!exprSql.contains("\n") && !exprSql.contains("|"),
      s"malformed layout expression: $exprSql")
    writeAtomic(layoutPath, s"$files|$exprSql", overwrite = true)
  }

  /** Drop the declared layout — commits write whatever partitioning the
    * caller's DataFrame has, as before. Idempotent.
    */
  def clearLayout(): Unit = { fs.delete(layoutPath, false); () }

  /** The currently declared layout, if any: (transform SQL, file count). */
  def layout: Option[(String, Int)] =
    if (!fs.exists(layoutPath)) None
    else readLines(layoutPath).headOption.map { l =>
      val i = l.indexOf('|')
      (l.drop(i + 1), l.take(i).toInt)
    }

  /** The layout a retained version's commit was clustered under, if any —
    * the epoch audit k34 reads.
    */
  def layoutOf(v: Long): Option[String] = {
    val p = manifestPath(v)
    if (!fs.exists(p)) None
    else readLines(p).find(_.startsWith("#layout="))
      .map(_.stripPrefix("#layout="))
  }

  /** Cluster `df` under the declared layout (hash-distribute on the
    * transform), or pass it through unchanged when none is declared.
    */
  private def applyLayout(df: DataFrame): DataFrame =
    layout.map { case (sql, files) =>
      df.repartition(files, expr(sql))
    }.getOrElse(df)

  private def sortOrderPath = new Path(s"$path/_sortorder")

  /** Declare the table's SORT ORDER (r16; Iceberg's write.sort-order —
    * the reference's `ORDER BY (variable, timestamp, lat, lon)` primary
    * key, `migrations/clickhouse/init.sql:25`, as table-format METADATA
    * instead of an engine property): commits sort rows within each
    * written file on `cols` and RECORD the order in the manifest header
    * (`#sortorder=`), [[compactSmall]]/[[foldDv]] re-establish it on the
    * files they rewrite, and order-exploiting reads ([[readTopK]]) lean
    * on the resulting zone clustering. Columns must be zone-tracked —
    * an order readers can't see through the stats buys nothing.
    */
  def setSortOrder(cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "sort order needs at least one column")
    val untracked = cols.filterNot(statsCols.contains)
    require(untracked.isEmpty,
      s"sort-order columns must be zone-tracked stats columns " +
        s"(tracked: ${statsCols.mkString(",")}; untracked: ${untracked.mkString(",")})")
    writeAtomic(sortOrderPath, cols.mkString(","), overwrite = true)
  }

  /** Drop the declared sort order — future commits write unsorted. */
  def clearSortOrder(): Unit = { fs.delete(sortOrderPath, false); () }

  /** The currently declared sort order, if any. */
  def sortOrder: Option[Seq[String]] =
    if (!fs.exists(sortOrderPath)) None
    else readLines(sortOrderPath).headOption.map(_.split(",").toSeq)

  /** The sort order a retained version's commit wrote its files under,
    * if any — the per-commit audit, like [[layoutOf]].
    */
  def sortOrderOf(v: Long): Option[Seq[String]] = {
    val p = manifestPath(v)
    if (!fs.exists(p)) None
    else readLines(p).find(_.startsWith("#sortorder="))
      .map(_.stripPrefix("#sortorder=").split(",").toSeq)
  }

  /** Sort `df` within its (already layout-clustered) partitions under the
    * declared order, or pass through unchanged.
    */
  private def applySortOrder(df: DataFrame): DataFrame =
    sortOrder.map(cs => df.sortWithinPartitions(cs.map(col): _*)).getOrElse(df)

  /** Range-pack `df` into `files` files under the declared sort order
    * when one exists (repartitionByRange + sortWithinPartitions = a
    * global order across the pack), else on the primary stats column —
    * the shared rewrite shape of [[compactSmall]] and [[foldDv]], so
    * maintenance PRESERVES the declared order instead of eroding it.
    */
  private def packUnderOrder(df: DataFrame, files: Int): DataFrame =
    sortOrder match {
      case Some(cs) =>
        df.repartitionByRange(math.max(files, 1), cs.map(col): _*)
          .sortWithinPartitions(cs.map(col): _*)
      case None => df.repartitionByRange(math.max(files, 1), col(statsCol))
    }

  /** The rewrite shape maintenance uses (r16): files being rewritten
    * anyway re-cluster under the CURRENT layout when one is declared —
    * layout-epoch CONVERGENCE for free (tables trend toward one epoch
    * across compactions, no dedicated rewrite) — else range-pack under
    * the sort order / primary stats column as before.
    */
  private def rewriteShape(df: DataFrame, files: Int): DataFrame =
    if (layout.nonEmpty) applySortOrder(applyLayout(df))
    else packUnderOrder(df, files)

  /** Live-file census by the layout epoch each file was written under
    * (its commit's recorded `#layout=`; None = pre-layout commits or
    * expired provenance) — the convergence audit: maintenance rewrites
    * under the current layout, so this trends toward one epoch.
    */
  def layoutCensus(v: Long): Map[Option[String], Int] = {
    val cache = scala.collection.mutable.Map.empty[Long, Option[String]]
    readManifest(v).groupBy(e => cache.getOrElseUpdate(e.batch,
      if (e.batch > 0 && fs.exists(manifestPath(e.batch))) layoutOf(e.batch)
      else None))
      .map { case (k, es) => k -> es.size }
  }

  /** Live-file census by the SORT ORDER each file was written under
    * (its commit's recorded `#sortorder=`; None = unsorted/pre-order
    * commits or expired provenance) — [[layoutCensus]]'s twin for the
    * declared order (r17): maintenance ([[compactSmall]]/[[foldDv]])
    * re-sorts the files it rewrites anyway, so a long-lived table mixing
    * pre-order commits with sorted ones trends toward one entry, and
    * this census is the convergence metric for it.
    */
  def sortCensus(v: Long): Map[Option[Seq[String]], Int] = {
    val cache = scala.collection.mutable.Map.empty[Long, Option[Seq[String]]]
    readManifest(v).groupBy(e => cache.getOrElseUpdate(e.batch,
      if (e.batch > 0 && fs.exists(manifestPath(e.batch))) sortOrderOf(e.batch)
      else None))
      .map { case (k, es) => k -> es.size }
  }

  /** Commit `df` as the next version; returns the new version number.
    * The data write is a normal distributed Parquet job; only the
    * per-file stats (one bounded aggregate over the NEW batch, grouped by
    * file — never a scan of the table) and the manifest lines touch the
    * driver.
    */
  def commit(df: DataFrame): Long =
    doCommit(applySortOrder(applyLayout(df)), () => carryAllGroups(),
      layoutTag = layout.map(_._1), sortTag = sortOrder)

  /** The pure-append carry: every previous group rides by reference with
    * the summary the previous LIST already holds — NO group file is
    * opened, so append commit metadata cost is O(new files + #groups).
    * A legacy ref with no recorded summary loads its entries once (the
    * one-time heal); evaluated under the commit lock, so appends rebase
    * onto whatever version a concurrent writer just acknowledged.
    */
  private def carryAllGroups(): Seq[Group] =
    latestVersion.map { v =>
      val info = listInfoOf(v)
      info.refs.map { r =>
        r.summary match {
          case Some(b) if r.files >= 0 && r.rows >= 0 =>
            Group(Some(r.name), info.names, Seq.empty, r.files, Some(b), r.rows,
              physRows = r.physRows, nullsSum = r.nulls)
          case _ => // legacy (pre-v2) ref: one-time heal loads its entries
            val (gNames, es) = readGroupFile(r.name)
            Group(Some(r.name), gNames, es)
        }
      } ++ info.inline
    }.getOrElse(Seq.empty)

  /** The current groups filtered by an entry predicate: untouched groups
    * carry BY REFERENCE, a group losing some (but not all) entries is
    * re-expressed as a fresh group of its survivors, an emptied group
    * drops. Evaluated under the commit lock like [[carryAllGroups]].
    */
  private def carriedGroups(keep: FileEntry => Boolean): Seq[Group] =
    carriedGroupsMapped(e => if (keep(e)) Some(e) else None)

  /** The general carry: entries transform through `m` — None drops (a COW
    * rewrite superseded the file), an UNCHANGED result carries its group
    * by reference, any changed entry (a delete-vector attach) re-expresses
    * the group as a fresh one of the mapped survivors. Evaluated under
    * the commit lock like [[carryAllGroups]].
    */
  private def carriedGroupsMapped(m: FileEntry => Option[FileEntry]): Seq[Group] =
    latestVersion.map(readGroupsOf(_).flatMap { g =>
      val mapped = g.entries.flatMap(m(_))
      if (mapped.isEmpty) None
      else if (mapped == g.entries) Some(g)
      // `origin` remembers the superseded group so the re-expressed one
      // can carry its bloom sidecar lines forward (r16): the surviving
      // files' CONTENTS are unchanged (a DV attach masks rows, a partial
      // rewrite drops whole files), so their sketches stay sound
      else Some(Group(None, g.names, mapped, origin = g.ref))
    }).getOrElse(Seq.empty)

  /** Idempotent tagged append — the exactly-once handshake for
    * AT-LEAST-ONCE writers (foreachBatch replays, retried jobs): the tag
    * (e.g. "batch-7") is recorded in the manifest header at commit time,
    * and a replay carrying an already-acknowledged tag returns that
    * version WITHOUT writing anything. The crash windows resolve
    * correctly by construction: died before the pointer swap → the
    * orphaned manifest is invisible to [[taggedVersion]] (which only
    * consults acknowledged versions) and [[recover]]/the next commit
    * clears it, so the replay commits fresh; died after → the tag is
    * found and the replay no-ops. The Delta/Iceberg `txnAppId/version`
    * idea on one pointer file.
    */
  def commitTagged(df: DataFrame, tag: String): Long = {
    require(!tag.contains("\n") && !tag.contains("\t"), s"malformed tag: $tag")
    taggedVersion(tag).getOrElse(
      doCommit(applySortOrder(applyLayout(df)), () => carryAllGroups(),
        tag = Some(tag), layoutTag = layout.map(_._1), sortTag = sortOrder))
  }

  /** Commit whose manifest references ONLY the newly written files — the
    * compaction/rewrite primitive: write the merged/compacted state, swap
    * the pointer, and the superseded files stay readable through OLDER
    * manifests until [[expire]] reclaims them. Readers mid-scan on the old
    * version are never broken — the rewrite never touches their files.
    */
  def commitRewrite(df: DataFrame): Long = doCommit(df, () => Seq.empty)

  /** [[commitRewrite]] with the rewrite re-clustered/re-sorted under the
    * declared layout and sort order (r17) — the whole-table
    * materialization primitive (e.g. a FINAL/dedup rewrite) that leaves
    * the table as maintenance would: one layout epoch, order
    * re-established, `#layout`/`#sortorder` stamped on the commit.
    */
  def commitRewriteShaped(df: DataFrame): Long =
    doCommit(applySortOrder(applyLayout(df)), () => Seq.empty,
      layoutTag = layout.map(_._1), sortTag = sortOrder)

  /** Bin-packing small-file compaction (the OPTIMIZE analog a long-lived
    * append stream needs — thousands of trickle commits otherwise leave a
    * file census that swamps scan planning): every current file smaller
    * than `smallBytes` is rewritten into `targetFiles` range-sorted files;
    * files already at weight carry forward UNTOUCHED, so the rewrite cost
    * is proportional to the small residue, never the table. Old versions
    * stay readable until [[expire]]. Returns the new version, or None when
    * fewer than two files qualify (nothing to pack).
    *
    * Incremental-read caveat (shared with every table format): rewritten
    * rows carry the compaction's version as their `batch`, so an
    * incremental consumer positioned before it sees them again — schedule
    * compaction behind consumer checkpoints or dedup downstream.
    */
  def compactSmall(smallBytes: Long, targetFiles: Int = 1): Option[Long] =
    latestVersion.flatMap { prev =>
      val m = readManifest(prev)
      // DV folding (r15): a file more than half masked by delete vectors
      // is effectively small — fold it into the pack so its vectors
      // retire; the rewrite reads DV-aware, so the packed files are
      // vector-free and the read-side anti-join cost stays bounded
      // between compactions.
      val small = m.filter(e => e.bytes < smallBytes ||
        (e.rows > 0 && e.dvRows * 2 >= e.rows))
      // a SINGLE half-masked file still folds (retiring its vectors is
      // the point); a single small vector-less file has nothing to gain
      if (small.size < 2 && !small.exists(_.dv.nonEmpty)) None
      else {
        val packed = rewriteShape(readEntriesDf(small, m), targetFiles)
        val smallFiles = small.map(_.file).toSet
        // planned against `prev`: a concurrent commit in between must fail
        // this rewrite (ConcurrentModificationException), not be dropped
        Some(doCommit(packed, () => carriedGroups(e => !smallFiles(e.file)),
          expectedPrev = Some(Some(prev)), layoutTag = layout.map(_._1),
          sortTag = sortOrder))
      }
    }

  /** Fold EVERY live delete vector into a real rewrite: files carrying
    * vectors re-land vector-free (range-packed, one output file per
    * folded input file); clean files carry by reference, so the fold
    * costs O(masked files), never the table. Returns the fold's version,
    * or None when no vectors are live. The vectors themselves stay
    * referenced by OLDER versions until [[expire]] reclaims them.
    */
  def foldDv(): Option[Long] = latestVersion.flatMap { prev =>
    val m = readManifest(prev)
    val masked = m.filter(_.dv.nonEmpty)
    if (masked.isEmpty) None
    else {
      val folded = rewriteShape(readEntriesDf(masked, m), masked.size)
      Some(doCommit(folded, () => carriedGroups(_.dv.isEmpty),
        expectedPrev = Some(Some(prev)), layoutTag = layout.map(_._1),
        sortTag = sortOrder))
    }
  }

  /** DV-debt maintenance trigger (r16; the verdict's "v14-inertia idea
    * for vectors"): ONE manifest read decides — when live vectors mask
    * more than `maxFraction` of the table's physical rows, [[foldDv]]
    * retires them all; below the threshold this is a metadata-only no-op.
    * The maintenance-loop shape a delete-heavy store runs after takedown
    * bursts: between triggers every read pays only the (broadcast,
    * compaction-bounded) anti-join, and the fold cost amortizes over the
    * deletes that accumulated the debt. Returns the fold version when it
    * fired.
    */
  def maintainDv(maxFraction: Double = 0.1): Option[Long] =
    latestVersion.flatMap { v =>
      val m = readManifest(v)
      val rows = m.map(_.rows).sum
      val debt = m.map(_.dvRows).sum
      if (rows == 0L || debt.toDouble / rows <= maxFraction) None
      else foldDv()
    }

  /** Z-ORDER the whole table (Delta's OPTIMIZE ZORDER BY): rewrite the
    * current state laid out along the Morton curve of `cols` — every
    * clustered column gets tight per-file zones at once, so [[readWhere]]
    * skips files on ANY of them (a single-column sort buys exactly one).
    * `cols` must be zone-tracked (⊆ the declared stats columns): clustering
    * an untracked column would improve nothing a reader can act on.
    * A full rewrite by design — the one-time layout cost the amortized
    * multi-dimensional skipping pays for; planned against the current
    * version, so a concurrent commit fails it loudly
    * (ConcurrentModificationException) rather than being dropped.
    * Returns the new version, or None on an empty store.
    */
  def clusterZOrder(cols: Seq[String], targetFiles: Int): Option[Long] = {
    val untracked = cols.filterNot(statsCols.contains)
    require(untracked.isEmpty,
      s"z-order columns must be zone-tracked stats columns " +
        s"(tracked: ${statsCols.mkString(",")}; untracked: ${untracked.mkString(",")})")
    latestVersion.map { prev =>
      doCommit(ZOrder.cluster(readAt(prev), cols, targetFiles),
        () => Seq.empty, expectedPrev = Some(Some(prev)))
    }
  }

  /** Row deletion — the takedown/right-to-be-forgotten primitive a
    * training-corpus store cannot ship without. PER-FILE mode choice
    * (r15; Iceberg v2 / Delta's MoR-vs-COW decision):
    *
    *   - a file whose VISIBLE hit fraction exceeds `dvMaxFraction`
    *     rewrites copy-on-write (its filtered complement lands as new
    *     files) — the heavily-hit case, where masking most of a file
    *     just defers an inevitable rewrite onto every reader;
    *   - a file at or below the threshold gets a DELETE VECTOR: the hit
    *     row positions land in an immutable `_dv/` sidecar and the entry
    *     re-commits with the vector attached — O(hits) metadata, no data
    *     rewrite. A SCATTERED takedown (one row in each of 10^5 files —
    *     the compliance shape) is then a metadata commit, not a
    *     table rewrite;
    *   - a file whose every visible row matches DROPS from the manifest
    *     outright (no rewrite, no vector).
    *
    * Every clean file carries forward untouched either way. Retained
    * older versions still hold the rows until [[expire]] — the audit
    * trail: the delete is itself a versioned, time-travelable commit.
    * [[compactSmall]] folds vectors into real rewrites later.
    *
    * Hit detection is one predicate scan (existing vectors applied first,
    * so masked rows never re-match) projecting file + position; at
    * production scale it composes with manifest zone stats and Parquet
    * row-group skipping. Returns the new version, or None when nothing
    * matches.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Option[Long] =
    deleteWhere(cond, SnapshotStore.DvAutoFraction)

  def deleteWhere(cond: org.apache.spark.sql.Column,
      dvMaxFraction: Double): Option[Long] =
    latestVersion.flatMap { prev =>
      val m = readManifest(prev)
      val byName: Map[String, FileEntry] =
        m.map(e => basenameOf(e.file) -> e).toMap
      // DV accounting (and antiDv's read-side anti-join) key on parquet
      // BASENAMES — a collision across batch dirs would cross-mask rows
      // of the wrong file. Spark's UUID-bearing part names make one
      // practically impossible; fail loudly rather than lose rows
      // silently if hand-placed files ever break the invariant.
      require(byName.size == m.size,
        s"duplicate data-file basenames in manifest v$prev at $path — " +
          "delete-vector accounting keys on basenames; rewrite the " +
          "colliding batch before mutating")
      // hit detection PLANS through the pushdown pruner first (r15):
      // zones + blooms drop every file that provably contains no match,
      // so a keyed takedown scans O(candidate files), never the table —
      // pruned files carry forward untouched by construction
      val (cands, _, _) = pruneWhere(prev, cond)
      if (cands.isEmpty) None // metadata disproves every file: no-op
      else {
        // The predicate's SHAPE picks the hit-detection plan (r16):
        //  - KEYED deletes (equality/IN probes on a BLOOM-TRACKED column —
        //    a lookup on the table's declared key, the scattered
        //    compliance takedown, overwhelmingly MoR): ONE positioned
        //    pass, the narrow (file, pos) hit set staged as a parquet dir
        //    under `_dv/tmp-*`; the census reads the tiny staging, and a
        //    pure-MoR outcome just RENAMES the staging into place as the
        //    vector — one data scan, no cache pin, zero extra jobs.
        //  - BROAD predicates (ranges, opaque shapes, equalities on
        //    untracked low-cardinality columns — the bulk-retention
        //    delete, overwhelmingly COW): a POSITIONS-FREE census (no
        //    row-index projection); positions are scanned only for the
        //    files that actually take a vector, so the common pure-COW
        //    outcome never pays them at all.
        // A wrong guess is never wrong — just one avoidable scan. Crashed
        // stagings are unreferenced `_dv` debris, age-swept like vectors.
        val delTree = org.apache.spark.sql.graftshim.Bridge.predicateTree(cond)
        val keyed = collectEqProbes(capWideIn(delTree))
          .exists { case (n, _) => bloomCols.contains(n) } ||
          // a WIDE IN on a bloom-tracked key is the scattered compliance
          // takedown writ large (r17) — still the keyed/MoR shape
          collectWideIns(delTree)
            .exists { case (n, _) => bloomCols.contains(n) }
        val dvName = s"dv-${java.util.UUID.randomUUID()}"
        var tmpPath: Option[Path] = None
        def dropTmp(): Unit = tmpPath.foreach { p =>
          if (fs.exists(p)) { fs.delete(p, true); () } }
        try {
        val perFile: Map[String, Long] =
          if (keyed) {
            val p = dvDirPath(s"tmp-${java.util.UUID.randomUUID()}")
            tmpPath = Some(p)
            visibleWithPositions(cands).filter(cond)
              .select(col(FileCol).as("f"), col(PosCol).as("pos"))
              .write.parquet(p.toString)
            spark.read.parquet(p.toString)
              .groupBy("f").agg(count(lit(1)).as("n")).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          } else {
            def census(df: DataFrame): Map[String, Long] =
              df.filter(cond).groupBy(FileCol).agg(count(lit(1)).as("n"))
                .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val (dvedC, plainC) = cands.partition(_.dv.nonEmpty)
            (if (plainC.isEmpty) Map.empty[String, Long]
             else census(spark.read.option("mergeSchema", "true")
               .parquet(plainC.map(_.file): _*)
               .withColumn(FileCol,
                 element_at(split(col("_metadata.file_path"), "/"), -1)))) ++
            (if (dvedC.isEmpty) Map.empty[String, Long]
             else census(visibleWithPositions(dvedC)))
          }
        if (perFile.isEmpty) { dropTmp(); None }
        else {
          val full = perFile.keySet.filter(f => perFile(f) >= byName(f).visibleRows)
          val dvSet = (perFile.keySet -- full).filter(f =>
            perFile(f).toDouble / byName(f).visibleRows <= dvMaxFraction)
          val cowSet = perFile.keySet -- full -- dvSet
          if (dvSet.isEmpty) dropTmp()
          else tmpPath match {
            case Some(p) if dvSet == perFile.keySet =>
              // every hit row belongs to a vector-taking file: the
              // staging IS the vector
              if (!fs.rename(p, dvDirPath(dvName)))
                throw new java.io.IOException(
                  s"delete-vector rename failed: $p -> ${dvDirPath(dvName)}")
              tmpPath = None
            case Some(p) =>
              // mixed outcome: compact the dvSet slice of the (tiny,
              // hits-only) staging; COW/drop rows are discarded
              import spark.implicits._
              spark.read.parquet(p.toString)
                .join(dvSet.toSeq.toDF("f2"), col("f") === col("f2"),
                  "left_semi")
                .repartition(math.max(1, dvSet.size / 4096 + 1))
                .write.parquet(dvDirPath(dvName).toString)
              dropTmp()
            case None =>
              // broad-predicate path: positions scanned ONLY for the
              // files taking a vector. repartition, NOT coalesce — a
              // coalesce would propagate up and strangle the scan to
              // vector-file width (hit rows are O(hits); their shuffle
              // is free, the scan's parallelism is not)
              val dvEntries = cands.filter(e => dvSet(basenameOf(e.file)))
              visibleWithPositions(dvEntries).filter(cond)
                .select(col(FileCol).as("f"), col(PosCol).as("pos"))
                .repartition(math.max(1, dvSet.size / 4096 + 1))
                .write.parquet(dvDirPath(dvName).toString)
          }
          def mapEntry(e: FileEntry): Option[FileEntry] = {
            val bn = basenameOf(e.file)
            if (cowSet(bn) || full(bn)) None
            else if (dvSet(bn)) Some(e.copy(dv = e.dv :+ dvName,
              dvRows = e.dvRows + perFile(bn)))
            else Some(e)
          }
          val base = () => carriedGroupsMapped(mapEntry)
          try {
            if (cowSet.isEmpty)
              // pure-MoR (or pure-drop) delete: METADATA-ONLY commit — no
              // distributed write at all, the O(hits) takedown shape
              Some(commitMeta(base, tag = None,
                expectedPrev = Some(Some(prev)),
                stagedStats = Array.empty, moveFrom = None))
            else {
              val cowEntries = m.filter(e => cowSet(basenameOf(e.file)))
              val survivors = readEntriesDf(cowEntries, m)
                // NOT-with-null semantics: a null predicate row is NOT a
                // match (the hit scan kept only TRUE rows) — keep null rows
                .filter(!coalesce(cond, lit(false)))
              // planned against `prev`: fail on a concurrent commit
              Some(doCommit(survivors, base, expectedPrev = Some(Some(prev))))
            }
          } catch {
            case e: Throwable =>
              // release this call's unreferenced vector so a retry isn't
              // blocked and the sidecar doesn't linger as debris
              if (dvSet.nonEmpty && fs.exists(dvDirPath(dvName)))
                fs.delete(dvDirPath(dvName), true)
              throw e
          }
        }
        } catch {
          case e: Throwable =>
            // a failed delete must not strand its hit staging as debris
            dropTmp()
            throw e
        }
      }
    }

  /** Keyed MERGE (copy-on-write upsert) — the K4 semantic as a versioned
    * commit (reference analog `defs/resources.py:94-123`, re-expressed as
    * a table-format primitive): rows of `delta` whose keys match existing
    * rows REPLACE them; unmatched delta rows insert. Only the files that
    * CONTAIN matched keys are rewritten (their unmatched rows carried into
    * the new files); every clean file carries forward by reference, so the
    * merge cost is proportional to the key blast radius, never the table —
    * what an SCD-dimension feed or a medallion silver sync needs at 100 TB,
    * where a whole-table rewrite per upsert batch is not an option.
    *
    * Candidate files are ZONE-PRUNED first: for every key column the
    * manifest tracks ([[statsCol]]/[[secondaryStats]]), one bounded
    * aggregate over `delta` yields its key bounds and files provably
    * disjoint from them never open — hit detection then scans only the
    * intersecting files (composing with Parquet row-group skipping), and
    * the rewrite scans only the files hit.
    *
    * Preconditions (shared with every COW merge): `keyCols` uniquely
    * identify rows in the table AND in `delta` (duplicate delta keys would
    * both land); a null delta key never matches (inserted as-is). `delta`
    * is evaluated up to three times (bounds, hit detection, rewrite) —
    * persist expensive deltas. Returns the new version; an empty delta is
    * a no-op returning the current version. Planned against the version
    * read at entry: a concurrent commit fails this merge with
    * `ConcurrentModificationException` — re-plan and retry.
    */
  def merge(delta: DataFrame, keyCols: Seq[String]): Long =
    merge(delta, keyCols, SnapshotStore.DvAutoFraction)

  /** As [[merge]], with the per-file merge-on-read threshold explicit:
    * a candidate file whose matched visible-row fraction is at or below
    * `dvMaxFraction` keeps its unmatched rows IN PLACE — the matched old
    * rows mask behind a delete vector and every delta row inserts as the
    * new batch — while heavier-hit files rewrite copy-on-write as before.
    * A key-scattered upsert batch then costs O(matched rows) metadata
    * plus the delta write, never a rewrite of every touched file.
    */
  def merge(delta: DataFrame, keyCols: Seq[String],
      dvMaxFraction: Double): Long = {
    require(keyCols.nonEmpty, "merge needs key columns")
    latestVersion match {
      case None => commit(delta) // empty table: everything inserts
      case Some(prev) =>
        val m = readManifest(prev)
        val byName: Map[String, FileEntry] =
          m.map(e => basenameOf(e.file) -> e).toMap
        // same basename-collision guard as deleteWhere: DV accounting
        // keys on basenames, so a collision must fail loudly here
        require(byName.size == m.size,
          s"duplicate data-file basenames in manifest v$prev at $path — " +
            "delete-vector accounting keys on basenames; rewrite the " +
            "colliding batch before mutating")
        val (nDelta, zoneCands) = mergeCandidates(delta, keyCols, prev)
        val candidates = mergeScanCandidates(delta, keyCols, prev,
          nDelta, zoneCands)
        if (nDelta == 0L) prev
        else {
          val dKeys = delta.select(keyCols.map(col): _*)
          val candSet = candidates.toSet
          val candEntries = m.filter(e => candSet(e.file))
          // Matched VISIBLE rows (existing vectors applied — a masked row
          // must not re-match) with file + position: ONE semi-join pass,
          // staged as a parquet dir under `_dv/tmp-*` (r16, the
          // deleteWhere discipline — a merge is keyed by definition).
          // The census reads the tiny staging; a pure-MoR outcome
          // RENAMES the staging into place as the vector. No persist
          // pin; a crashed staging is unreferenced `_dv` debris,
          // age-swept like vectors.
          val dvName = s"dv-${java.util.UUID.randomUUID()}"
          var tmpPath: Option[Path] = None
          def dropTmp(): Unit = tmpPath.foreach { p =>
            if (fs.exists(p)) { fs.delete(p, true); () } }
          try {
            val perFile: Map[String, Long] =
              if (candEntries.isEmpty) Map.empty
              else {
                val p = dvDirPath(s"tmp-${java.util.UUID.randomUUID()}")
                tmpPath = Some(p)
                visibleWithPositions(candEntries)
                  // keep the prefixed helper names through the semi-join:
                  // a user key column named "f"/"pos" must not collide
                  .select(col(FileCol) +: col(PosCol) +: keyCols.map(col): _*)
                  .join(dKeys, keyCols, "left_semi")
                  .select(col(FileCol).as("f"), col(PosCol).as("pos"))
                  .write.parquet(p.toString)
                spark.read.parquet(p.toString)
                  .groupBy("f").agg(count(lit(1)).as("n")).collect()
                  .map(r => r.getString(0) -> r.getLong(1)).toMap
              }
            val full = perFile.keySet.filter(f =>
              perFile(f) >= byName(f).visibleRows)
            val dvSet = (perFile.keySet -- full).filter(f =>
              perFile(f).toDouble / byName(f).visibleRows <= dvMaxFraction)
            val cowSet = perFile.keySet -- full -- dvSet
            if (dvSet.isEmpty) dropTmp()
            else tmpPath match {
              case Some(p) if dvSet == perFile.keySet =>
                // every matched row masks in place: the staging IS the
                // vector — the key-scattered upsert's O(hits) shape
                if (!fs.rename(p, dvDirPath(dvName)))
                  throw new java.io.IOException(
                    s"delete-vector rename failed: $p -> ${dvDirPath(dvName)}")
                tmpPath = None
              case Some(p) =>
                import spark.implicits._
                spark.read.parquet(p.toString)
                  .join(dvSet.toSeq.toDF("f2"),
                    col("f") === col("f2"), "left_semi")
                  .repartition(math.max(1, dvSet.size / 4096 + 1))
                  .write.parquet(dvDirPath(dvName).toString)
                dropTmp()
              case None => ()
            }
            def mapEntry(e: FileEntry): Option[FileEntry] = {
              val bn = basenameOf(e.file)
              if (cowSet(bn) || full(bn)) None
              else if (dvSet(bn)) Some(e.copy(dv = e.dv :+ dvName,
                dvRows = e.dvRows + perFile(bn)))
              else Some(e)
            }
            val cowEntries = m.filter(e => cowSet(basenameOf(e.file)))
            val newData =
              if (cowEntries.isEmpty) delta
              else readEntriesDf(cowEntries, m)
                .join(dKeys, keyCols, "left_anti") // unmatched rows only
                .unionByName(delta, allowMissingColumns = true)
            try doCommit(newData, () => carriedGroupsMapped(mapEntry),
              expectedPrev = Some(Some(prev)))
            catch {
              case e: Throwable =>
                if (dvSet.nonEmpty && fs.exists(dvDirPath(dvName)))
                  fs.delete(dvDirPath(dvName), true)
                throw e
            }
          } catch {
            case e: Throwable =>
              // a failed merge must not strand its hit staging as debris
              dropTmp()
              throw e
          }
        }
    }
  }

  /** Bloom-narrow the merge's hit-detection scan: zones bound RANGES, so
    * a hash-distributed key leaves every file a candidate and the
    * semi-join scans the table. When the merge key is a single
    * bloom-tracked column and the delta is small enough to collect its
    * keys ([[SnapshotStore.MergeProbeCap]]), probe the sidecars and scan
    * only files that might contain a delta key — the rewrite set was
    * always exact (the semi-join decides it); this bounds what the
    * semi-join has to READ. Conservative whenever the preconditions fail:
    * the zone candidates pass through unchanged. Envelope: the probe is
    * O(candidate files × delta keys) driver-side bit tests — the cap
    * bounds one factor; at extreme manifest scale rely on zones or raise
    * the cap knowingly.
    */
  private[graft] def mergeScanCandidates(delta: DataFrame,
      keyCols: Seq[String], v: Long, nDelta: Long,
      zoneCands: Seq[String]): Seq[String] =
    if (keyCols.size != 1 || !bloomCols.contains(keyCols.head) ||
      nDelta == 0L || nDelta > SnapshotStore.MergeProbeCap ||
      zoneCands.isEmpty) zoneCands
    else {
      val keys = delta.select(col(keyCols.head)).distinct()
        .collect().flatMap(r => Option(r.get(0))).toSeq
      if (keys.isEmpty) zoneCands
      else {
        val (bloomKept, _, _) =
          pruneWhere(v, col(keyCols.head).isin(keys: _*))
        val might = bloomKept.map(_.file).toSet
        zoneCands.filter(might)
      }
    }

  /** Zone-pruned merge candidates at version `v`: (delta row count, files
    * whose tracked key bounds intersect the delta's). The delta's bounds
    * become one range conjunction planned by [[pruneWhere]]; key columns
    * the manifest does not zone-track contribute no conjunct (conservative
    * keep). Package-visible so the spec pins the skip rate.
    */
  private[graft] def mergeCandidates(delta: DataFrame, keyCols: Seq[String],
      v: Long): (Long, Seq[String]) = {
    val tracked = statsNamesOf(v).filter(keyCols.contains)
    val aggExprs = count(lit(1)).as("n") +: tracked.flatMap(n => Seq(
      min(col(n).cast("double")), max(col(n).cast("double"))))
    val row = delta.agg(aggExprs.head, aggExprs.tail: _*).head
    val nDelta = row.getLong(0)
    // delta key bounds per tracked column; an all-null key column
    // aggregates to SQL NULL and a NaN poisons every comparison — both
    // are NO INFORMATION and add no conjunct, so pruning only ever acts on
    // sound bounds (a NaN here once pruned EVERY candidate and turned
    // matched keys into silent duplicates — the r13 review)
    val ranges = tracked.indices.flatMap { ti =>
      if (row.isNullAt(1 + 2 * ti) || row.isNullAt(2 + 2 * ti)) None
      else {
        val lo = row.getDouble(1 + 2 * ti)
        val hi = row.getDouble(2 + 2 * ti)
        if (lo.isNaN || hi.isNaN) None
        else Some(col(tracked(ti)) >= lo && col(tracked(ti)) <= hi)
      }
    }
    val kept =
      if (nDelta == 0L) Seq.empty[String]
      else pruneWhere(v, ranges.reduceOption(_ && _).getOrElse(lit(true)))
        ._1.map(_.file)
    (nDelta, kept)
  }

  /** Per-file zone stats of a freshly written parquet directory: one
    * bounded aggregate over the batch (and only the batch), grouped by the
    * physical file each row landed in. An all-rows-deleted rewrite may
    * write ZERO part files — a manifest of just the carried-forward
    * entries is then the correct table state. Stats columns must exist
    * in EVERY commit — they are the table's declared zone-map keys, not
    * evolvable payload. Numeric (and timestamp) columns record plain
    * double bounds; STRING columns record bounds through the
    * order-preserving prefix projection [[SnapshotStore.strOrd]] (r17),
    * so string-keyed range/membership predicates zone-prune too.
    */
  /** One sampled footer of a freshly written batch dir (driver-local,
    * cached) — types the stats projection and the `#strstats` markers.
    * Sound as a SAMPLE for the same reason the probe-typing sample is
    * (see pruneWhere): mergeSchema rejects per-column type drift, so
    * every file of a readable table agrees on each column's type.
    */
  private def batchSchemaOf(dir: Path)
      : Option[org.apache.spark.sql.types.StructType] =
    fs.listStatus(dir).find(_.getPath.getName.startsWith("part-"))
      .map(st => schemaCache.computeIfAbsent(st.getPath.toString,
        p => org.apache.spark.sql.graftshim.Bridge.parquetSchema(spark, p)))

  /** The stats columns a batch records through the string projection. */
  private def strStatsOf(dir: Path): Seq[String] =
    batchSchemaOf(dir).map { sch =>
      statsCols.filter(c => sch.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.StringType))
    }.getOrElse(Seq.empty)

  /** FOOTER fast path for the commit-time stats census (r17; extended
    * to string / timestamp / floating-point stats columns in r18, guide
    * §1.2/§6): the per-file zone bounds, row counts and null counts the
    * manifest needs are already in the parquet footers the write just
    * produced — exactly the numbers the one-job aggregate pass
    * recomputes. Reading them driver-side (one bounded footer read per
    * new file, parallelized over a small pool — the Iceberg manifest
    * discipline) deletes one distributed job from EVERY commit.
    *
    * Per-type soundness (any miss falls the whole dir back to the
    * aggregate pass — never a per-file mix):
    *   - INTEGER types: long→double cast is monotone non-decreasing, so
    *     min/max over per-row casts (the aggregate formulation) equals
    *     the cast of the footer's typed min/max — the SAME doubles land
    *     in the manifest.
    *   - STRING: parquet's STRING column order is unsigned-byte
    *     lexicographic — the SAME total order Spark's string min/max
    *     aggregates use — and chunk statistics hold FULL values
    *     (parquet-mr's truncation applies to the page/column index, not
    *     footer chunk stats; oversized values DROP chunk stats, landing
    *     in the fallback). Identical bound strings through the strOrd
    *     word projection give identical words. Were a writer ever to
    *     truncate, a truncated MIN is a prefix (lexicographically <=
    *     the true min) and a truncated MAX gets its last byte bumped
    *     (>= the true max) — bounds only WIDEN, never unsound; the
    *     byte-identity spec would catch the divergence loudly.
    *   - TIMESTAMP: accepted only as physical INT64 / logical
    *     TIMESTAMP(MICROS, adjusted-to-UTC) — the encoding
    *     [[writeBatchParquet]] pins (INT96, Spark's default, records NO
    *     footer statistics at all). The aggregate casts
    *     timestamp→double as micros/1e6; dividing the footer's typed
    *     min/max by 1e6 is the identical IEEE operation, and division
    *     by a positive constant is monotone, so the bounds agree
    *     bit-for-bit.
    *   - DOUBLE/FLOAT: parquet-mr SUPPRESSES a chunk's min/max when any
    *     NaN was written (hasNonNullValue false while numNulls <
    *     rowCount — verified against the bundled writer and pinned in
    *     FooterStatsSpec), so stats-present implies a NaN-free chunk,
    *     where footer min/max equal the aggregate's exactly; a
    *     suppressed chunk falls back to the aggregate, which correctly
    *     records the NaN-poisoned max (Spark ranks NaN above every
    *     double). Remaining representational slack is the SIGN of a
    *     zero bound (footer orders -0.0 < 0.0; Spark's aggregate treats
    *     them equal and keeps the first seen) — numerically equal, and
    *     every pruning comparison goes through <=/>= where -0.0 == 0.0.
    */
  private[graft] def statsFromFooters(parts: Array[org.apache.hadoop.fs.FileStatus])
      : Option[Array[FileEntry]] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val schema = batchSchemaOf(parts.head.getPath.getParent)
    if (schema.isEmpty) return None
    val sch = schema.get
    val supported: Set[DataType] = Set(ByteType, ShortType, IntegerType,
      LongType, StringType, TimestampType, DoubleType, FloatType)
    val sparkTypes = statsCols.map(c => sch.find(_.name == c).map(_.dataType))
    if (sparkTypes.exists(t => !t.exists(supported))) return None
    val types: Seq[DataType] = sparkTypes.map(_.get)
    val isStr = types.map(_ == StringType)

    // one column's folded footer stats: manifest doubles + (for string
    // columns) the bound STRINGS the derived word slots project from
    final case class ColStats(mn: Double, mx: Double, nulls: Long,
        smn: String = null, smx: String = null)

    def utf8LE(a: org.apache.parquet.io.api.Binary,
        b: org.apache.parquet.io.api.Binary): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromBytes(a.getBytes)
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes)) <= 0

    // fold one column's chunk statistics across a file's row groups
    def colStats(dt: DataType,
        chunks: Seq[(org.apache.parquet.hadoop.metadata.ColumnChunkMetaData, Long)])
        : Option[ColStats] = {
      val ss = chunks.map { case (cc, n) => (cc, cc.getStatistics, n) }
      if (ss.exists { case (_, s, _) => s == null || !s.isNumNullsSet }) return None
      // a chunk with non-null VALUES but no min/max is a floating-point
      // chunk that saw NaN (writer suppression) or an oversized-value
      // drop — only the aggregate census is sound for it
      if (ss.exists { case (_, s, n) => !s.hasNonNullValue && s.getNumNulls < n })
        return None
      val nulls = ss.map(_._2.getNumNulls).sum
      val valued = ss.filter(_._2.hasNonNullValue)
      if (valued.isEmpty) return Some(ColStats(Double.NaN, Double.NaN, nulls))
      def num(convert: Any => Option[Double]): Option[ColStats] = {
        val mns = valued.map(v => convert(v._2.genericGetMin))
        val mxs = valued.map(v => convert(v._2.genericGetMax))
        if (mns.exists(_.isEmpty) || mxs.exists(_.isEmpty)) None
        else Some(ColStats(mns.flatten.min, mxs.flatten.max, nulls))
      }
      dt match {
        case ByteType | ShortType | IntegerType | LongType => num {
          case l: java.lang.Long => Some(l.toDouble)
          case i: java.lang.Integer => Some(i.toDouble)
          case _ => None
        }
        case DoubleType => num {
          case d: java.lang.Double => Some(d.doubleValue)
          case _ => None
        }
        case FloatType => num {
          case f: java.lang.Float => Some(f.toDouble)
          case _ => None
        }
        case TimestampType =>
          val ok = valued.forall { case (cc, _, _) =>
            val pt = cc.getPrimitiveType
            pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
              (pt.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
                    t.isAdjustedToUTC
                case _ => false
              })
          }
          if (!ok) None
          else num {
            case l: java.lang.Long => Some(l.longValue / 1000000.0)
            case _ => None
          }
        case StringType =>
          val ok = valued.forall { case (cc, _, _) =>
            val pt = cc.getPrimitiveType
            pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              pt.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          }
          val bs = valued.map(v =>
            (v._2.genericGetMin, v._2.genericGetMax)) collect {
            case (a: org.apache.parquet.io.api.Binary,
                b: org.apache.parquet.io.api.Binary) => (a, b)
          }
          if (!ok || bs.length != valued.length) None
          else {
            val smn = bs.map(_._1).reduce((a, b) => if (utf8LE(a, b)) a else b)
              .toStringUsingUTF8
            val smx = bs.map(_._2).reduce((a, b) => if (utf8LE(a, b)) b else a)
              .toStringUsingUTF8
            Some(ColStats(SnapshotStore.strOrd(smn), SnapshotStore.strOrd(smx),
              nulls, smn, smx))
          }
        case _ => None
      }
    }

    def entryOf(st: org.apache.hadoop.fs.FileStatus): Option[FileEntry] = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val perCol: Seq[Option[ColStats]] = statsCols.zip(types).map { case (c, dt) =>
          val chunks = blocks.map(b => b.getColumns.asScala.find(cc =>
            cc.getPath.size == 1 && cc.getPath.iterator.next == c)
            .map(cc => (cc, b.getRowCount)))
          if (chunks.exists(_.isEmpty)) None
          else colStats(dt, chunks.flatten)
        }
        if (perCol.exists(_.isEmpty)) None
        else {
          val cols = perCol.flatten
          // words 2..k of every string stats column, in statsCols order —
          // appended AFTER the declared columns, exactly the aggregate
          // census's emission order (writeManifestFor names them c#s<w>)
          val derived = statsCols.indices.filter(isStr).flatMap { i =>
            val cs = cols(i)
            (1 until SnapshotStore.StrWords).map { w =>
              (if (cs.smn == null) Double.NaN else SnapshotStore.strOrdWord(cs.smn, w),
                if (cs.smx == null) Double.NaN else SnapshotStore.strOrdWord(cs.smx, w))
            }
          }
          // record the file in input_file_name()'s URI form
          // ("file:///tmp/...", empty authority) so footer-census and
          // aggregate-census manifests are byte-identical
          // (FooterStatsSpec pins it)
          val u = st.getPath.toUri
          val fileStr = new java.net.URI(u.getScheme,
            Option(u.getAuthority).getOrElse(""), u.getPath, null, null).toString
          Some(FileEntry(fileStr, -1L, rows,
            cols.head.mn, cols.head.mx, st.getLen,
            cols.drop(1).map(c => (c.mn, c.mx)) ++ derived,
            nulls = cols.map(_.nulls)))
        }
      } finally r.close()
    }

    val sorted = parts.sortBy(_.getPath.toString)
    // bounded-parallel footer reads (r18): independent ~KB-scale reads of
    // just-written (page-cached) files — a large commit must not make the
    // census the serial leg of the commit protocol. Order is preserved;
    // a worker's exception propagates like the sequential loop's did.
    val entries: Array[Option[FileEntry]] =
      if (sorted.length <= 2) sorted.map(entryOf)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, sorted.length))
        try {
          val futs = sorted.map(st =>
            pool.submit(new java.util.concurrent.Callable[Option[FileEntry]] {
              def call(): Option[FileEntry] = entryOf(st)
            }))
          futs.map { f =>
            try f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          }
        } finally pool.shutdown()
      }
    // zero-row part files (Spark's partition-0 schema-only file on an
    // empty batch) produce NO group under the aggregate census's
    // groupBy(input_file_name) — skip them here too, or the two census
    // paths diverge exactly on empty commits and downstream consumers
    // (bloomsForDir's nFiles gate) see phantom files (r18, ADVICE fix)
    if (entries.exists(_.isEmpty)) None
    else Some(entries.flatten.filter(_.rows > 0L))
  }

  /** Batch data write with footer-census-friendly physical encoding
    * (r18, guide §6): Spark's default parquet timestamp encoding is
    * INT96, which records NO footer statistics — pinning
    * TIMESTAMP_MICROS (the modern Iceberg-style INT64 encoding; readers
    * treat the two identically, and stores with no timestamp columns
    * write byte-identical files) keeps timestamp stats columns on the
    * driver-side footer census instead of forcing the whole-dir
    * aggregate job. The conf rides a CLONED session dedicated to batch
    * writes (same SparkContext, shared cache manager, isolated conf):
    * a set/restore on the shared session conf raced under concurrent
    * commits and leaked the encoding into unrelated writes in the same
    * session.
    */
  private lazy val writeSession =
    org.apache.spark.sql.graftshim.Bridge.cloneWithConf(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
  private def writeBatchParquet(df: DataFrame, dir: String): Unit =
    org.apache.spark.sql.graftshim.Bridge.inSession(writeSession, df)
      .write.parquet(dir)

  private def statsForDir(dir: Path): Array[FileEntry] = {
    val parts = fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
    if (parts.isEmpty) Array.empty[FileEntry]
    else statsFromFooters(parts) match {
      case Some(es) => es
      case None => statsAggForDir(dir)
    }
  }

  private[graft] def statsAggForDir(dir: Path): Array[FileEntry] =
    if (!fs.listStatus(dir).exists(_.getPath.getName.startsWith("part-")))
      Array.empty[FileEntry]
    else {
      val batchSchema = batchSchemaOf(dir).get
      val isStr = statsCols.map(c => batchSchema.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.StringType))
      // STRING stats columns aggregate their native min/max (Spark's
      // string ordering is unsigned-byte lexicographic — the order the
      // projection preserves); the driver then folds each bound string
      // into StrWords projection words. Numeric columns stay doubles.
      val aggExprs = (count(lit(1)).as("n") +:
        statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (isStr(i)) Seq(min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i"))
          else Seq(min(col(c).cast("double")).as(s"mn$i"),
            max(col(c).cast("double")).as(s"mx$i")) }) ++
        // physical null count per stats column (r16): lets IS [NOT] NULL
        // predicates prune; costs nothing extra (same aggregate pass)
        statsCols.zipWithIndex.map { case (c, i) =>
          sum(col(c).isNull.cast("long")).as(s"nc$i") }
      val ncBase = 1 + 2 * statsCols.size
      spark.read.parquet(dir.toString)
        .groupBy(input_file_name().as("f"))
        .agg(aggExprs.head, aggExprs.tail: _*)
        .collect()
        .map { r =>
          val f = r.getString(0)
          // an all-null column aggregates min/max to SQL NULL — record
          // NaN ("no information"; every prune layer keeps on NaN)
          def d(idx: Int) = if (r.isNullAt(idx)) Double.NaN else r.getDouble(idx)
          def s(idx: Int) = if (r.isNullAt(idx)) null else r.getString(idx)
          // word-1 of a string bound lands in the column's own slot
          def bnd(i: Int): (Double, Double) =
            if (isStr(i)) {
              val (mn, mx) = (s(2 + 2 * i), s(3 + 2 * i))
              (if (mn == null) Double.NaN else SnapshotStore.strOrd(mn),
                if (mx == null) Double.NaN else SnapshotStore.strOrd(mx))
            } else (d(2 + 2 * i), d(3 + 2 * i))
          // words 2..k of every string stats column, in statsCols order —
          // appended AFTER the declared columns; writeManifestFor names
          // them `c#s<w>` in the same order (strWordNames)
          val derived = statsCols.indices.filter(isStr).flatMap { i =>
            val (mn, mx) = (s(2 + 2 * i), s(3 + 2 * i))
            (1 until SnapshotStore.StrWords).map { w =>
              (if (mn == null) Double.NaN else SnapshotStore.strOrdWord(mn, w),
                if (mx == null) Double.NaN else SnapshotStore.strOrdWord(mx, w))
            }
          }
          FileEntry(f, -1L, r.getLong(1), bnd(0)._1, bnd(0)._2,
            fs.getFileStatus(new Path(f)).getLen,
            statsCols.indices.drop(1).map(bnd) ++ derived,
            nulls = statsCols.indices.map(i => r.getLong(1 + ncBase + i)))
        }
        .sortBy(_.file)
    }

  // ---- FILE-LEVEL BLOOM FILTERS (point-lookup data skipping) -----------
  // Zone maps prune RANGES and only bite when the layout correlates with
  // the column; an exact-key lookup on a hash-distributed high-cardinality
  // key (doc id, user id) keeps every file under zones alone. Per-file
  // bloom filters close that gap: at commit time one aggregate pass folds
  // xxhash64(key) bitsets per (file, declared bloom column), written as an
  // immutable SIDECAR next to the batch's group file (`<group>.bloom`) —
  // a manifest-metadata artifact, never opened by reads that don't probe.
  // The sidecar's first line is the UNION bloom of its files, so a probe
  // skips a whole group without opening anything (the two-level
  // discipline). No false negatives: a pruned-eq read is always a superset
  // of the exact matches; files/groups without a sidecar (rewrite
  // survivors, pre-bloom history, WAP batches from a bloom-less writer)
  // are conservatively kept.
  //
  // SIZING (driver-held, like every manifest artifact): bits per file are
  // 10× the batch's mean rows/file, clamped to [2^10, 2^20] — 128 KiB/file
  // at the cap, i.e. ~1% FPP up to ~100k keys/file, degrading (never
  // wrong) beyond. Keep compaction targets near that band or raise the
  // cap knowingly; the collect is #files × bits/8 per column.

  private def bloomSidecarPath(groupName: String) =
    new Path(s"$path/_manifests/$groupName.bloom")

  /** Per-file bloom bitsets of a freshly written parquet dir, keyed by
    * file BASENAME (stable across the staging→batch rename): one
    * aggregate, map-side partial ORs, one sketch-sized row per file.
    *
    * This is deliberately a SECOND pass over the batch (after
    * [[statsForDir]]): exact bit sizing needs the batch's row census,
    * which only the stats pass produces — a bytes-per-file heuristic
    * under-sizes narrow tables (delta-encoded keys compress below
    * 10 B/row) into useless FPP, and aggregating at the cap then folding
    * down multiplies the agg/collect bytes 8×. The re-read hits the
    * page-cached just-written files; the distributed WRITE dominates
    * commit wall-clock.
    */
  /** A batch's bloom sketches: one bitset list per file (keyed by
    * basename), plus the GROUP-level bloom sized for the batch's TOTAL
    * rows (r17). The group line used to be the OR of the per-file
    * bitsets — at per-file width it SATURATES once the group holds more
    * than ~10k keys (256 files × 256 rows ORed into 4096 bits is all
    * ones), which is exactly when group-level skipping matters most
    * (the wide-IN takedown probes groups first, files under budget
    * second). The dedicated group sketch keeps the two-level discipline
    * honest at both levels.
    */
  private final case class BatchBlooms(files: Map[String, Seq[Array[Byte]]],
      group: Seq[Array[Byte]])
  private object BatchBlooms { val empty = BatchBlooms(Map.empty, Seq.empty) }

  private def bloomsForDir(dir: Path, totalRows: Long, nFiles: Int)
      : BatchBlooms =
    if (bloomCols.isEmpty || nFiles == 0) BatchBlooms.empty
    else {
      val meanRows = math.max(1L, totalRows / nFiles)
      val bits = java.lang.Long.highestOneBit(
        math.min(1L << 20, math.max(1L << 10, 10L * meanRows)) * 2 - 1).toInt
      val aggs = bloomCols.map(c => graft.functions.BloomSketch.bloomAgg(
        xxhash64(col(c)), bits, SnapshotStore.BloomHashes).as(s"bf_$c"))
      val batch = spark.read.parquet(dir.toString)
      // group sketch sized by TOTAL rows (clamped at 2 MiB — ~1% FPP to
      // ~1.6M keys, degrading-never-wrong beyond)
      val gBits = java.lang.Long.highestOneBit(
        math.min(1L << 24, math.max(1L << 10, 10L * totalRows)) * 2 - 1).toInt
      // ONE aggregate job for both levels (r17, guide §1.2): per-file
      // sketches are ALSO built at the group width in the same pass and
      // OR-ed driver-side — the OR of same-width blooms over a partition
      // of the rows IS the bloom of the union (identical bit positions),
      // so the result is bit-identical to the former second global-agg
      // job (BloomFuseSpec pins it). Gated on the collect staying
      // sketch-sized: past ~64 MiB of group-width per-file sketches
      // (thousands of files × a 2 MiB group sketch) the second global
      // aggregate is the cheaper shape and the fusion steps aside.
      val fuse = nFiles.toLong * (gBits.toLong / 8L) *
        bloomCols.size <= (64L << 20)
      val gAggs = bloomCols.map(c => graft.functions.BloomSketch.bloomAgg(
        xxhash64(col(c)), gBits, SnapshotStore.BloomHashes).as(s"gf_$c"))
      val rows = batch
        .groupBy(input_file_name().as("f"))
        .agg((aggs ++ (if (fuse) gAggs else Nil)).head,
          (aggs ++ (if (fuse) gAggs else Nil)).tail: _*)
        .collect()
      // a dir of only zero-row part files yields no groups — no sketches
      // to build (and rows.head below would throw); empty sidecar keeps
      // conservatively, same as the pre-fusion semantics (r18, ADVICE fix)
      if (rows.isEmpty) return BatchBlooms.empty
      val perFile = rows.map { r =>
        new Path(r.getString(0)).getName ->
          bloomCols.indices.map(i => r.getAs[Array[Byte]](1 + i))
      }.toMap
      val group =
        if (fuse) bloomCols.indices.map { i =>
          val acc = rows.head.getAs[Array[Byte]](1 + bloomCols.size + i).clone()
          rows.tail.foreach { r =>
            val b = r.getAs[Array[Byte]](1 + bloomCols.size + i)
            var j = 0
            while (j < acc.length && j < b.length) {
              acc(j) = (acc(j) | b(j)).toByte; j += 1
            }
          }
          acc
        }
        else {
          val gRow = batch.agg(gAggs.head, gAggs.tail: _*).collect()(0)
          bloomCols.indices.map(i => gRow.getAs[Array[Byte]](i))
        }
      // size the group line to MEASURED cardinality (r18): gBits above is
      // the totalRows upper bound; repeated keys leave it nearly empty.
      // Exact fold — see SnapshotStore.foldSketch
      BatchBlooms(perFile, group.map(SnapshotStore.foldSketch))
    }

  private def b64(a: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(a)

  /** Sidecar body: `#cols=`/`#hashes=` headers, a `*` union line (the
    * group-level skip), then one line per file basename. Crc-guarded like
    * every metadata file.
    */
  private def bloomBody(names: Seq[String],
      blooms: Seq[(String, Seq[Array[Byte]])],
      groupUnion: Seq[Array[Byte]] = Seq.empty): String = {
    // The `*` line (the group-level skip): preferred source is the
    // DEDICATED group sketch (r17, sized for the batch's total rows —
    // see BatchBlooms); carried/legacy paths without one fall back to
    // OR-ing the per-file bitsets, which is sound ONLY when every
    // file's sketch per column has the same bit width — probe bits are
    // positions mod the width, so OR-ing mixed widths loses bits. Mixed
    // widths happen when carried-forward sketches (r16) predate a batch
    // sizing change; the sidecar then omits the union — parse yields no
    // union bitset, the group keeps conservatively, per-file sketches
    // (each probed under its own width) still prune.
    val cols = blooms.map(_._2).transpose
    val unionLine =
      if (groupUnion.nonEmpty)
        Seq(s"*\t${groupUnion.map(b64).mkString("\t")}")
      else if (cols.forall(bs => bs.map(_.length).distinct.size <= 1)) {
        val union = cols.map { bs =>
          val acc = bs.head.clone()
          bs.tail.foreach { b =>
            var i = 0
            while (i < acc.length && i < b.length) { acc(i) = (acc(i) | b(i)).toByte; i += 1 }
          }
          acc
        }
        Seq(s"*\t${union.map(b64).mkString("\t")}")
      } else Seq.empty
    val body = (unionLine ++
      blooms.map { case (f, bs) => s"$f\t${bs.map(b64).mkString("\t")}" })
      .mkString("\n")
    s"#crc=${crcOf(body)}\n#cols=${names.mkString(",")}\n" +
      s"#hashes=${SnapshotStore.BloomHashes}\n" + body
  }

  private final case class BloomSidecar(names: Seq[String], hashes: Int,
    union: Seq[Array[Byte]], files: Map[String, Seq[Array[Byte]]])

  // sidecars are immutable and written before their group becomes
  // reachable, so a per-store cache is safe — including a cached None
  // (a group without a sidecar never grows one). BOUNDED LRU: unlike the
  // line-sized group cache, sidecars are the store's largest metadata
  // artifact, and a long-lived instance (a streaming sink, a serving
  // process) that keeps committing and expiring would otherwise pin
  // bitsets of groups that can never be referenced again. Access-ordered
  // eviction (r15; was a coarse clear-everything past the cap) keeps the
  // hot working set resident — a server probing the same live groups
  // never re-reads a sidecar just because dead groups churned past.
  private val bloomCache =
    new java.util.LinkedHashMap[String, Option[BloomSidecar]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[BloomSidecar]]): Boolean =
        size() > bloomCacheCap
    }

  private def readBloomSidecar(groupName: String): Option[BloomSidecar] =
    bloomCache.synchronized {
      val hit = bloomCache.get(groupName)
      if (hit != null) hit
      else {
        val parsed = parseBloomFile(bloomSidecarPath(groupName),
          s"bloom sidecar of $groupName")
        bloomCache.put(groupName, parsed)
        parsed
      }
    }

  /** (cache size, whether `groupName` is resident) — eviction pin for
    * BloomSkipSpec; never exposes the bitsets.
    */
  private[graft] def bloomCacheStats(groupName: String): (Int, Boolean) =
    bloomCache.synchronized((bloomCache.size(), bloomCache.containsKey(groupName)))

  private def parseBloomFile(p: Path, what: String): Option[BloomSidecar] = {
    if (!fs.exists(p)) None
    else {
      val lines = readLines(p)
      checkCrc(lines, what)
      val names = lines.find(_.startsWith("#cols="))
        .map(_.stripPrefix("#cols=").split(",").toSeq).getOrElse(Seq.empty)
      val hashes = lines.find(_.startsWith("#hashes="))
        .map(_.stripPrefix("#hashes=").toInt)
        .getOrElse(SnapshotStore.BloomHashes)
      val dec = java.util.Base64.getDecoder
      val body = lines.filterNot(_.startsWith("#")).map { l =>
        val a = l.split("\t")
        a(0) -> a.drop(1).toSeq.map(dec.decode)
      }
      val union = body.find(_._1 == "*").map(_._2).getOrElse(Seq.empty)
      Some(BloomSidecar(names, hashes, union,
        body.filterNot(_._1 == "*").toMap))
    }
  }

  // ---- PREDICATE-PUSHDOWN SCAN PLANNING --------------------------------
  // One Column predicate drives EVERY pruning layer the manifest offers —
  // the Delta/Iceberg scan-planning discipline at the store API. Range
  // conjuncts on zone-tracked columns prune via the two-level zone maps
  // (group summaries first, entries second); equality/IN conjuncts on
  // bloom-tracked columns probe the sidecars (union bloom first). The
  // full predicate then applies as an ordinary filter, so readWhere ==
  // read().filter(cond) EXACTLY — pruning may only skip candidates that
  // provably contain no satisfying row; any shape the planner does not
  // understand (casts, functions, column-to-column compares, NOT)
  // contributes no pruning and is conservatively kept.

  /** What one candidate (a file, or a whole group via its summary) can
    * answer: sound numeric bounds per column, and bloom might-contain.
    * None / true = no information = keep.
    */
  private trait PruneCtx {
    def bounds(colName: String): Option[(Double, Double)]
    def mightContain(colName: String, value: Any): Boolean
    /** PHYSICAL null count of the column, when recorded (r16). */
    def nullCount(colName: String): Option[Long] = None
    /** PHYSICAL row count of the candidate, when known. */
    def physRows: Option[Long] = None
  }

  // Spark 4 Columns carry their structure as a private[sql] ColumnNode
  // tree (UnresolvedFunction("<=", …) over UnresolvedAttribute/Literal),
  // not as catalyst expressions — the graftshim Bridge re-expresses it as
  // the public PNode ADT the planner walks here.
  private type CNode = org.apache.spark.sql.graftshim.Bridge.PNode

  private def fnOf(e: CNode): Option[(String, Seq[CNode])] = e match {
    case org.apache.spark.sql.graftshim.Bridge.PFunc(name, args) =>
      Some((name, args))
    case _ => None
  }

  private def attrNameOf(e: CNode): Option[String] = e match {
    case org.apache.spark.sql.graftshim.Bridge.PAttr(name) => Some(name)
    case _ => None
  }

  private def litValueOf(e: CNode): Option[Any] = e match {
    case org.apache.spark.sql.graftshim.Bridge.PLit(value) =>
      Option(value).map {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      }
    case _ => None
  }

  private def asDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case d: java.math.BigDecimal => Some(d.doubleValue)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    // a timestamp literal on the same scale statsForDir records zone
    // bounds for timestamp columns: cast(ts AS double) = micros / 1e6
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t).toDouble / 1e6)
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(i).toDouble / 1e6)
    case _ => None
  }

  /** Structural negation for the planner (r15): NOT pushes through
    * AND/OR by De Morgan and flips range comparisons, so `!(x < 100)`
    * prunes like `x >= 100`. SOUND under SQL null semantics: a null
    * operand makes both the original and the flipped comparison
    * non-TRUE, so the negated form's keep-set is a superset of the
    * rows NOT(child) actually keeps. Shapes without a sound negation
    * (equality — its negation prunes nothing zone-wise; IN; opaque)
    * return None → the caller keeps conservatively.
    */
  private def negated(e: CNode): Option[CNode] = {
    import org.apache.spark.sql.graftshim.Bridge.PFunc
    fnOf(e) match {
      case Some(("and", Seq(l, r))) =>
        for { nl <- negated(l); nr <- negated(r) } yield PFunc("or", Seq(nl, nr))
      case Some(("or", Seq(l, r))) =>
        for { nl <- negated(l); nr <- negated(r) } yield PFunc("and", Seq(nl, nr))
      case Some((">", args)) => Some(PFunc("<=", args))
      case Some((">=", args)) => Some(PFunc("<", args))
      case Some(("<", args)) => Some(PFunc(">=", args))
      case Some(("<=", args)) => Some(PFunc(">", args))
      case Some(("not" | "!", Seq(c))) => Some(c) // double negation
      case Some(("!=" | "<>", args)) => Some(PFunc("=", args))
      // exact complements (both sides 2-valued, never null)
      case Some(("isnull" | "isNull", args)) => Some(PFunc("isnotnull", args))
      case Some(("isnotnull" | "isNotNull", args)) => Some(PFunc("isnull", args))
      case _ => None
    }
  }

  /** Sound keep-decision for `cond` against one candidate: false ONLY when
    * no row in the candidate can satisfy the predicate.
    */
  private def keeps(e: CNode, ctx: PruneCtx,
      strZoned: String => Boolean = _ => false): Boolean = {
    // Literal → the compared attribute's ZONE SCALE (r17): a column
    // marked `#strstats` records prefix-projected bounds — word 1 in its
    // own slot, words 2..k in derived `#s<w>` slots — so STRING literals
    // compare there as word TUPLES ([[SnapshotStore.lexLE]]); unmarked
    // columns compare numeric literals as plain doubles. A cross-typed
    // compare (numeric literal vs string zones, or vice versa) refuses
    // and keeps: its SQL semantics run through implicit casts the zone
    // scales know nothing about. Over the (collapsing) projection,
    // STRICT compares relax to non-strict: mn == v(K) can still hide
    // rows strictly below K, so only a strict projected inequality may
    // skip — lexLE's tie-keeps encode exactly that.
    def strTupleOf(n: String, side: ((Double, Double)) => Double): Seq[Double] =
      (n +: SnapshotStore.strWordNames(n))
        .map(sl => ctx.bounds(sl).map(side).getOrElse(Double.NaN))
    def keyTuple(s: String): Seq[Double] =
      (0 until SnapshotStore.StrWords).map(w => SnapshotStore.strOrdWord(s, w))
    // rows-above-v possible? / rows-below-v possible? (direction tests
    // every range case reduces to; strictness folds into the projection
    // relaxation for strings, and stays exact for numerics)
    def keepAbove(n: String, v: Any, strict: Boolean): Option[Boolean] = v match {
      case str: String if strZoned(n) =>
        Some(SnapshotStore.lexLE(keyTuple(str), strTupleOf(n, _._2)))
      case _: String => None
      case other if strZoned(n) => None
      case other => asDouble(other).map { d =>
        val mx = ctx.bounds(n).map(_._2).getOrElse(Double.NaN)
        mx.isNaN || (if (strict) mx > d else mx >= d)
      }
    }
    def keepBelow(n: String, v: Any, strict: Boolean): Option[Boolean] = v match {
      case str: String if strZoned(n) =>
        Some(SnapshotStore.lexLE(strTupleOf(n, _._1), keyTuple(str)))
      case _: String => None
      case other if strZoned(n) => None
      case other => asDouble(other).map { d =>
        val mn = ctx.bounds(n).map(_._1).getOrElse(Double.NaN)
        // Spark orders NaN above every double: every non-null row is
        // `<=` a NaN literal, so a NaN bound can never skip from below
        d.isNaN || mn.isNaN || (if (strict) mn < d else mn <= d)
      }
    }
    def rkd(a: CNode, l: CNode, above: Boolean, strict: Boolean): Boolean =
      (for { n <- attrNameOf(a); lv <- litValueOf(l)
             k <- if (above) keepAbove(n, lv, strict)
                  else keepBelow(n, lv, strict) } yield k).getOrElse(true)
    def eqKeep(a: CNode, l: CNode): Boolean =
      (attrNameOf(a), litValueOf(l)) match {
        case (Some(n), Some(v)) =>
          val zone = (for { ab <- keepAbove(n, v, strict = false)
                            be <- keepBelow(n, v, strict = false) }
            yield ab && be).getOrElse(true)
          zone && ctx.mightContain(n, v)
        case _ => true
      }
    def isAttr(x: CNode) = attrNameOf(x).nonEmpty
    fnOf(e) match {
      case Some(("and", Seq(l, r))) =>
        keeps(l, ctx, strZoned) && keeps(r, ctx, strZoned)
      case Some(("or", Seq(l, r))) =>
        keeps(l, ctx, strZoned) || keeps(r, ctx, strZoned)
      case Some((">", Seq(a, l))) if isAttr(a) => rkd(a, l, above = true, strict = true)
      case Some((">", Seq(l, a))) if isAttr(a) => rkd(a, l, above = false, strict = true)
      case Some((">=", Seq(a, l))) if isAttr(a) => rkd(a, l, above = true, strict = false)
      case Some((">=", Seq(l, a))) if isAttr(a) => rkd(a, l, above = false, strict = false)
      case Some(("<", Seq(a, l))) if isAttr(a) => rkd(a, l, above = false, strict = true)
      case Some(("<", Seq(l, a))) if isAttr(a) => rkd(a, l, above = true, strict = true)
      case Some(("<=", Seq(a, l))) if isAttr(a) => rkd(a, l, above = false, strict = false)
      case Some(("<=", Seq(l, a))) if isAttr(a) => rkd(a, l, above = true, strict = false)
      case Some(("=" | "==" | "<=>", Seq(a, l))) if isAttr(a) => eqKeep(a, l)
      case Some(("=" | "==" | "<=>", Seq(l, a))) if isAttr(a) => eqKeep(a, l)
      case Some(("in", a +: list)) if isAttr(a) &&
        list.forall(litValueOf(_).nonEmpty) =>
        list.exists(l => eqKeep(a, l))
      // r16 null-count pruning. Sound under delete vectors BECAUSE the
      // counts are PHYSICAL: zero physical nulls => no visible null
      // either (masking only removes rows); all-physical-null => every
      // visible row is null. The opposite directions stay conservative
      // (a non-null physical row may be masked -> keep).
      case Some(("isnull" | "isNull", Seq(a))) =>
        (for { n <- attrNameOf(a); nc <- ctx.nullCount(n) } yield nc > 0L)
          .getOrElse(true)
      case Some(("isnotnull" | "isNotNull", Seq(a))) =>
        (for { n <- attrNameOf(a); nc <- ctx.nullCount(n); r <- ctx.physRows }
          yield nc < r).getOrElse(true)
      case Some(("not" | "!", Seq(c))) =>
        negated(c).map(keeps(_, ctx, strZoned)).getOrElse(true)
      case _ => true // unsupported shape: no pruning from this subtree
    }
  }

  /** Equality probes per attribute appearing in `cond` — what the bloom
    * layer may be asked about.
    */
  private def collectEqProbes(e: CNode): Seq[(String, Any)] =
    fnOf(e) match {
      case Some(("and" | "or", Seq(l, r))) =>
        collectEqProbes(l) ++ collectEqProbes(r)
      case Some(("=" | "==" | "<=>", Seq(a, b))) =>
        (for { n <- attrNameOf(a); v <- litValueOf(b) } yield (n, v)).toSeq ++
        (for { n <- attrNameOf(b); v <- litValueOf(a) } yield (n, v)).toSeq
      case Some(("in", a +: list)) =>
        for { n <- attrNameOf(a).toSeq; l <- list; v <- litValueOf(l) }
          yield (n, v)
      case Some(("not" | "!", Seq(c))) =>
        negated(c).map(collectEqProbes).getOrElse(Seq.empty)
      case _ => Seq.empty
    }

  /** REQUIRED wide-IN membership probes (r17; closes the r16 verdict's
    * named scale-killer): an IN wider than [[SnapshotStore.InProbeCap]]
    * on NON-numeric keys used to fall to keep-all (capWideIn's range
    * collapse only helps numeric keys), so a 10^5-STRING-key takedown —
    * the typical document-id compliance shape — planned O(table). The
    * keys of an IN that is a REQUIRED conjunct (reachable from the root
    * through `and` nodes only, positive polarity) can instead probe the
    * BLOOM layer wholesale: hash every key once (O(keys), driver-local),
    * then ask each group's union bloom "might ANY key be here?" with
    * early exit on the first possible hit — O(keys × groups) worst case,
    * groups ≪ files — and drop whole groups whose answer is no. Per-file
    * refinement inside surviving groups runs under a global bit-test
    * budget ([[SnapshotStore.WideProbeBudget]]) so plan time stays flat
    * no matter how wide the takedown; past the budget files keep
    * conservatively (sound, and those files are in groups the union
    * bloom could not clear, i.e. likely genuine hits). Collection is
    * deliberately NOT polarity-general: only AND-reachable INs qualify,
    * because skipping on a conjunct requires the conjunct be necessary.
    */
  private def collectWideIns(e: CNode): Seq[(String, Seq[Any])] =
    fnOf(e) match {
      case Some(("and", Seq(l, r))) =>
        collectWideIns(l) ++ collectWideIns(r)
      case Some(("in", a +: list)) if list.size > SnapshotStore.InProbeCap =>
        for {
          n <- attrNameOf(a).toSeq
          vs = list.flatMap(litValueOf)
          // every literal must resolve: probing with a SUBSET would skip
          // files that contain only the unresolved keys — unsound
          if vs.size == list.size
        } yield (n, vs)
      case _ => Seq.empty
    }

  /** PROBE-CAP discipline for the planner (r16; the MergeProbeCap rule
    * applied to arbitrary predicates — the r15 verdict's takedown
    * envelope): an `IN` whose literal list exceeds
    * [[SnapshotStore.InProbeCap]] would cost O(candidate files × keys)
    * driver-side zone checks and bloom bit-tests — a 10^5-key takedown
    * against a 10^5-file table is ~10^10 driver operations at PLAN time.
    * Above the cap the IN collapses to its numeric RANGE conjunct
    * (min(keys) <= a <= max(keys)) — one O(keys) driver pass once, then
    * O(1) per file — and to a keep-all when the keys aren't numeric.
    * Sound: the range keep-set is a superset of the IN's. Exact hit
    * detection stays with the distributed filter, where it belongs.
    */
  private def capWideIn(e: CNode, neg: Boolean = false): CNode = {
    import org.apache.spark.sql.graftshim.Bridge.{PFunc, PLit, POpaque}
    fnOf(e) match {
      case Some((n @ ("and" | "or"), Seq(l, r))) =>
        PFunc(n, Seq(capWideIn(l, neg), capWideIn(r, neg)))
      case Some(("not" | "!", Seq(c))) => PFunc("not", Seq(capWideIn(c, !neg)))
      case Some(("in", a +: list))
          if list.size > SnapshotStore.InProbeCap =>
        // POLARITY MATTERS: the range is a SUPERSET of the IN — sound to
        // keep-test directly, UNSOUND once negated (a NOT over a superset
        // is a subset, and the planner would skip files whose rows sit
        // inside the keys' range but outside the key set). Under an odd
        // number of enclosing NOTs the wide IN contributes no pruning at
        // all (POpaque under NOT negates to None -> conservative keep).
        val ds = if (neg) Seq.empty
          else list.flatMap(litValueOf).flatMap(asDouble)
        if (!neg && ds.size == list.size && attrNameOf(a).nonEmpty)
          PFunc("and", Seq(PFunc(">=", Seq(a, PLit(ds.min))),
            PFunc("<=", Seq(a, PLit(ds.max)))))
        else POpaque
      case _ => e
    }
  }

  /** xxhash64 of probe literals UNDER THE TABLE'S PHYSICAL COLUMN TYPE
    * (xxhash64 is type-sensitive; commit-side sketches hashed the native
    * column) — computed DRIVER-LOCALLY via [[SnapshotStore.probeHash]], so
    * scan planning runs ZERO Spark jobs (the r14 probeHashMap spun one
    * tiny local-relation job per (column, type) group at plan time).
    * Columns absent from the schema, un-probed types, and literals that
    * do not convert soundly to the physical type get no hash →
    * conservative keep.
    */
  private def probeHashMap(probes: Seq[(String, Any)],
      schema: org.apache.spark.sql.types.StructType): Map[(String, Any), Long] =
    probes.distinct.flatMap { case (n, v) =>
      schema.find(_.name == n).map(_.dataType)
        .flatMap(t => SnapshotStore.probeHash(v, t))
        .map(h => (n, v) -> h)
    }.toMap

  /** Plan `cond` against version `v`'s metadata: group summaries + union
    * blooms first (skipped groups never open), then per-file zones +
    * blooms. Returns (kept, schema-source, total files). The store's one
    * predicate planner: range, point and merge scans all skip files
    * through it ([[topKEntries]] is the order-proof exception).
    */
  private def pruneWhere(v: Long, cond: org.apache.spark.sql.Column)
      : (Seq[FileEntry], Seq[FileEntry], Int) = {
    val raw = org.apache.spark.sql.graftshim.Bridge.predicateTree(cond)
    val e = capWideIn(raw)
    val info = listInfoOf(v)
    val eff = info.names
    val probes = collectEqProbes(e)
    val wides = collectWideIns(raw)
    // INVARIANT (r15 advice, documented): probe literals are typed under
    // ONE sample file's footer schema. Sound because bloom-tracked columns
    // may not type-evolve across batches: every read path goes through
    // mergeSchema=true, which REJECTS conflicting physical types loudly,
    // so a store whose bloom column diverged (int widened to long) is
    // already unreadable before any probe could false-skip. If type
    // widening is ever admitted, probes for the widened column must be
    // dropped (conservative keep) for files whose physical type differs
    // from the sample's — revisit this site and probeHash together.
    val schema: org.apache.spark.sql.types.StructType =
      if (probes.isEmpty && wides.isEmpty)
        new org.apache.spark.sql.types.StructType()
      else {
        val sample = info.refs.headOption
          .map(r => readGroupFile(r.name)._2).getOrElse(Seq.empty) ++
          info.inline.map(_.entries).getOrElse(Seq.empty)
        // driver-local footer read (cached per immutable file) — scan
        // planning must run ZERO Spark jobs, and spark.read fires one
        sample.headOption.map(f => schemaCache.computeIfAbsent(f.file,
          p => org.apache.spark.sql.graftshim.Bridge.parquetSchema(spark, p)))
          .getOrElse(new org.apache.spark.sql.types.StructType())
      }
    val hashes = probeHashMap(probes, schema)
    // wide-IN key hashes, one array per attr, computed LAZILY — O(keys)
    // driver work at most once, and not at all when every candidate\'s
    // sketch fails the saturation guard below (the usual wide-IN case);
    // an IN any of whose literals fails to hash under the physical type
    // contributes no pruning (conservative)
    val wideKeyCounts: Seq[(String, Int)] =
      wides.map { case (n, vs) => (n, vs.size) }
    lazy val wideHashes: Map[String, Array[Long]] =
      wides.flatMap { case (n, vs) =>
        schema.find(_.name == n).map(_.dataType).flatMap { t =>
          val hs = vs.flatMap(SnapshotStore.probeHash(_, t))
          if (hs.size == vs.size) Some(n -> hs.toArray) else None
        }
      }.toMap
    // r17: a wide IN over a STRING-projected column collapses to ONE
    // range on the projected scale — O(keys) once driver-side, O(1) per
    // candidate — capWideIn's numeric collapse generalized to string
    // keys. This, not bloom probing, is what makes a CLUSTERED 10^5-
    // doc-id takedown plan O(batch): membership-probing 10^5 keys
    // against ~1e-3-FPP sketches false-keeps nearly every candidate
    // (per-key FPP compounds across the key set), while a zone range
    // doesn't care how many keys it summarizes. Sound because
    // collectWideIns only surfaces REQUIRED conjuncts and #strstats
    // marks exactly the columns whose bounds use the projection.
    val strZoned: String => Boolean = info.strStats.toSet
    // (slot names of the column's projection words, lo word-tuple, hi
    // word-tuple): the tuple-lex min/max over the KEYS' projections —
    // O(keys × StrWords) once driver-side, O(StrWords) per candidate
    val wideRanges: Seq[(Seq[String], Seq[Double], Seq[Double])] =
      wides.flatMap { case (n, vs) =>
        if (strZoned(n) && vs.forall(_.isInstanceOf[String])) {
          val tuples = vs.map { v =>
            val str = v.asInstanceOf[String]
            (0 until SnapshotStore.StrWords)
              .map(w => SnapshotStore.strOrdWord(str, w))
          }
          val lo = tuples.reduce((a, b) =>
            if (SnapshotStore.lexLE(a, b)) a else b)
          val hi = tuples.reduce((a, b) =>
            if (SnapshotStore.lexLE(a, b)) b else a)
          Some((n +: SnapshotStore.strWordNames(n), lo, hi))
        } else None
      }
    def wideZoneKeep(ctx: PruneCtx): Boolean =
      wideRanges.forall { case (slots, lo, hi) =>
        def side(f: ((Double, Double)) => Double): Seq[Double] =
          slots.map(sl => ctx.bounds(sl).map(f).getOrElse(Double.NaN))
        // keep iff [lo,hi] might intersect [minTuple, maxTuple]:
        // lo <= fileMax AND fileMin <= hi, word-tuple lexicographic
        SnapshotStore.lexLE(lo, side(_._2)) &&
          SnapshotStore.lexLE(side(_._1), hi)
      }
    // per-FILE refinement budget (key-probes); group-level union probes
    // are uncapped by design — O(keys × groups) is the intended envelope
    var wideFileBudget: Long = SnapshotStore.WideProbeBudget
    def wideKeep(sc: Option[BloomSidecar],
        bsOf: BloomSidecar => Option[Seq[Array[Byte]]],
        budgeted: Boolean): Boolean =
      wideKeyCounts.forall { case (n, nKeys) =>
        (for { s <- sc; i = s.names.indexOf(n); if i >= 0
               bytes <- bsOf(s).flatMap(_.lift(i)) } yield {
          // SATURATION GUARD: with K keys the chance of a false keep is
          // ~K·d^h (d = bitset density). When that exceeds O(1) the scan
          // is hopeless — every candidate would false-keep anyway — so
          // skip the O(K) probe loop (and the key hashing entirely) and
          // keep outright (sound; also why wide-IN pruning leans on the
          // zone range, not blooms). One O(bits) popcount, ≪ O(K).
          var pc = 0L; var bi = 0
          while (bi < bytes.length) {
            pc += java.lang.Integer.bitCount(bytes(bi) & 0xff); bi += 1 }
          val density = pc.toDouble / math.max(1.0, bytes.length * 8.0)
          val hopeless =
            nKeys.toDouble * math.pow(density, s.hashes) > 4.0
          if (hopeless || (budgeted && wideFileBudget < nKeys)) true
          else wideHashes.get(n) match {
            case None => true
            case Some(hs) =>
              if (budgeted) wideFileBudget -= hs.length
              var j = 0; var hit = false
              while (!hit && j < hs.length) {
                if (graft.functions.BloomSketch.containsBytes(
                  bytes, s.hashes, hs(j))) hit = true
                j += 1
              }
              hit
          }
        }).getOrElse(true)
      }
    def bloomHit(sc: Option[BloomSidecar], bs: Option[Seq[Array[Byte]]])(
        n: String, value: Any): Boolean =
      (for { s <- sc; i = s.names.indexOf(n); if i >= 0
             bytes <- bs.flatMap(_.lift(i))
             h <- hashes.get((n, value)) }
        yield graft.functions.BloomSketch.containsBytes(bytes, s.hashes, h))
        .getOrElse(true)
    // one per-file decision for ref-group and inline entries alike; an
    // inline entry has no sidecar, so its bloom layers answer "keep"
    def fileKeeps(fe: FileEntry, sc: Option[BloomSidecar]): Boolean = {
      val bs = sc.flatMap(_.files.get(new Path(fe.file).getName))
      val fCtx = new PruneCtx {
        def bounds(n: String) = {
          val i = eff.indexOf(n)
          if (i < 0) None
          else if (i == 0) Some((fe.minS, fe.maxS))
          else fe.extra.lift(i - 1)
        }
        def mightContain(n: String, value: Any) = bloomHit(sc, bs)(n, value)
        override def nullCount(n: String) = {
          val i = eff.indexOf(n)
          if (i < 0) None else fe.nulls.lift(i).filter(_ >= 0L)
        }
        override def physRows = Some(fe.rows)
      }
      keeps(e, fCtx, strZoned) && wideZoneKeep(fCtx) &&
        wideKeep(sc, _ => bs, budgeted = true)
    }
    var total = 0
    val keptGroups = info.refs.flatMap { r =>
      // sidecars only matter to equality/membership probes — a range-only
      // predicate must not pay a sidecar read (or decode) per group
      val sc = if (hashes.isEmpty && wideHashes.isEmpty) None
               else readBloomSidecar(r.name)
      val gCtx = new PruneCtx {
        def bounds(n: String) = {
          val i = eff.indexOf(n)
          if (i < 0) None else r.summary.flatMap(_.lift(i))
        }
        def mightContain(n: String, value: Any) =
          bloomHit(sc, sc.map(_.union))(n, value)
        override def nullCount(n: String) = {
          val i = eff.indexOf(n)
          if (i < 0) None else r.nulls.lift(i).filter(_ >= 0L)
        }
        override def physRows =
          if (r.physRows >= 0L) Some(r.physRows) else None
      }
      if ((!keeps(e, gCtx, strZoned) || !wideZoneKeep(gCtx) ||
            !wideKeep(sc, s => Some(s.union), budgeted = false)) &&
            r.files >= 0) { total += r.files; None }
      else {
        val (gNames, es) = readGroupFile(r.name)
        total += es.size
        Some(Group(Some(r.name), eff,
          alignEntries(gNames, eff, es).filter(fileKeeps(_, sc))))
      }
    } ++ info.inline.map { g =>
      total += g.entries.size
      Group(None, eff, alignEntries(g.names, eff, g.entries)
        .filter(fileKeeps(_, None)))
    }
    val kept = keptGroups.flatMap(_.entries)
    val schemaSrc =
      if (kept.nonEmpty) kept
      else info.refs.headOption.map(r => readGroupFile(r.name)._2)
        .getOrElse(info.inline.map(_.entries).getOrElse(Seq.empty))
    (kept, schemaSrc, total)
  }

  /** PUSHDOWN READ: `readWhere(cond)` == `read().filter(cond)` exactly,
    * with every candidate the metadata can disprove skipped before Spark
    * plans the scan — range conjuncts through the two-level zone maps,
    * equality/IN conjuncts through the bloom sidecars, arbitrary residual
    * shapes kept and filtered normally.
    */
  def readWhere(v: Long, cond: org.apache.spark.sql.Column): DataFrame = {
    val (kept, schemaSrc, _) = pruneWhere(v, cond)
    readEntriesDf(kept, schemaSrc).filter(cond)
  }

  def readWhere(cond: org.apache.spark.sql.Column): DataFrame =
    readWhere(latestVersion.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $path")), cond)

  /** (files kept, total files) for a pushdown plan — the skip census. */
  def planStatsWhere(v: Long, cond: org.apache.spark.sql.Column): (Int, Int) = {
    val (kept, _, total) = pruneWhere(v, cond)
    (kept.size, total)
  }

  /** The file set an order-exploiting top-k scan needs (r16; r17
    * generalizes to COMPOSITE orders): per file, the zone bounds of the
    * order columns form LEXICOGRAPHIC tuple bounds — (max_1, max_2, …)
    * is a sound lex upper bound of every row\'s order tuple (row.c1 ≤
    * max_1, ties fall to the next column\'s own max, by induction), and
    * symmetrically for the lower tuple. Sort files by the tight-side
    * tuple (upper for k-smallest, lower for k-largest), take the
    * shortest prefix whose visible rows provably cover `k` — its last
    * tuple is a sound threshold T (≥ k rows are lex-≤ T) — then keep
    * every file whose far-side tuple reaches T. Exact bounds make this
    * sound for ANY layout; the DECLARED composite sort order
    * ([[setSortOrder]]) is what clusters files so the prefix stays
    * tiny. STRING order columns expand to their projection-word slots
    * (word ties flow to the finer word — the correct lex refinement),
    * and all compares are non-strict, sound under prefix collapse.
    * Files with any unknown (NaN) slot contribute no proof and are
    * always scanned.
    */
  private def topKEntries(v: Long, cols: Seq[String], k: Int, asc: Boolean)
      : (Seq[FileEntry], Seq[FileEntry], Int) = {
    // guard HERE so both public entry points (readTopK, topKStats) fail
    // with the intended message instead of an empty-prefix .last throw
    require(k > 0, "top-k needs k > 0")
    require(cols.nonEmpty, "top-k needs at least one order column")
    val m = readManifest(v)
    val names = statsNamesOf(v)
    val strMarked = listInfoOf(v).strStats.toSet
    // expand string order columns to their projection-word slot runs
    val slots: Seq[Int] = cols.flatMap { c =>
      val i = names.indexOf(c)
      require(i >= 0,
        s"column \'$c\' is not zone-tracked at version $v (tracked: $names)")
      if (strMarked(c))
        i +: SnapshotStore.strWordNames(c).map(names.indexOf).filter(_ >= 0)
      else Seq(i)
    }
    def bndsAt(e: FileEntry, i: Int): (Double, Double) =
      if (i == 0) (e.minS, e.maxS)
      else e.extra.lift(i - 1).getOrElse(
        (Double.NegativeInfinity, Double.PositiveInfinity))
    def loT(e: FileEntry): Seq[Double] = slots.map(i => bndsAt(e, i)._1)
    def hiT(e: FileEntry): Seq[Double] = slots.map(i => bndsAt(e, i)._2)
    def lexCmp(a: Seq[Double], b: Seq[Double]): Int = {
      var i = 0
      while (i < a.length) {
        val c = java.lang.Double.compare(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      0
    }
    val (unknown, known) = m.partition(e =>
      loT(e).exists(_.isNaN) || hiT(e).exists(_.isNaN))
    // tight side first: upper tuple for k-smallest, lower for k-largest
    val ord = new Ordering[Seq[Double]] {
      def compare(a: Seq[Double], b: Seq[Double]) = lexCmp(a, b)
    }
    val ordered =
      if (asc) known.sortBy(hiT)(ord) else known.sortBy(loT)(ord.reverse)
    var acc = 0L
    val prefix = ordered.takeWhile { e =>
      val need = acc < k; acc += e.visibleRows; need }
    val kept =
      if (acc < k) m // fewer provable rows than k: scan everything
      else {
        val t = (if (asc) prefix.map(hiT) else prefix.map(loT)).last
        unknown ++ known.filter(e =>
          if (asc) lexCmp(loT(e), t) <= 0 else lexCmp(hiT(e), t) >= 0)
      }
    (kept, m, m.size)
  }

  /** ORDER-EXPLOITING top-k read: `readTopK(v, cs, k)` ==
    * `readAt(v).orderBy(cs).limit(k)` exactly, scanning only the zone-
    * bounded file prefix that can contain the answer. Under a declared
    * sort order maintained by [[compactSmall]], that prefix is O(k/rows-
    * per-file) files regardless of table size; the plan is a bounded
    * TakeOrderedAndProject over the pruned scan — no global sort, no
    * shuffle of the table. The composite form is what primary-key slice
    * queries against the reference\'s `ORDER BY (variable, timestamp,
    * lat, lon)` actually run.
    */
  def readTopK(v: Long, cols: Seq[String], k: Int, asc: Boolean): DataFrame = {
    val (kept, schemaSrc, _) = topKEntries(v, cols, k, asc)
    readEntriesDf(kept, schemaSrc)
      .orderBy(cols.map(c => if (asc) col(c).asc else col(c).desc): _*)
      .limit(k)
  }

  def readTopK(v: Long, colName: String, k: Int,
      asc: Boolean = true): DataFrame = readTopK(v, Seq(colName), k, asc)

  /** (files kept, total files) for a top-k plan — the skip census. */
  def topKStats(v: Long, cols: Seq[String], k: Int, asc: Boolean): (Int, Int) = {
    val (kept, _, total) = topKEntries(v, cols, k, asc)
    (kept.size, total)
  }

  def topKStats(v: Long, colName: String, k: Int,
      asc: Boolean = true): (Int, Int) = topKStats(v, Seq(colName), k, asc)

  /** Damaged-store guard: with no acknowledged version, the only debris
    * the commit protocol itself can have left behind is a crashed FIRST
    * commit's v1 (a crash at commit N implies a pointer at N-1). Anything
    * else — a pointer file naming a missing manifest, or a lost pointer
    * over real history — is hand-damage; treating it as a fresh store
    * would make the commit-time debris-clear delete the surviving history.
    * Refuse and route to recover(), which re-points to the newest complete
    * manifest. Checked BEFORE staging so a damaged store fails without a
    * distributed write.
    */
  private def commitGuard(): Unit =
    require(latestVersion.nonEmpty ||
      (!fs.exists(pointerFile) && versions.forall(_ == 1L)),
      s"snapshot store at $path has manifests but no valid pointer — " +
        "run recover() before committing")

  private def doCommit(df: DataFrame, base: () => Seq[Group],
      tag: Option[String] = None,
      expectedPrev: Option[Option[Long]] = None,
      layoutTag: Option[String] = None,
      sortTag: Option[Seq[String]] = None): Long = {
    commitGuard()

    // 1. STAGE (outside the critical section): the expensive distributed
    //    write goes to a unique directory, so concurrent committers
    //    overlap their data writes and contend only on metadata.
    val stagingName = ".staging-" + java.util.UUID.randomUUID().toString
    val staging = new Path(s"$path/data/$stagingName")
    writeBatchParquet(df, staging.toString)
    val stagedStats = statsForDir(staging)
    val blooms = bloomsForDir(staging, stagedStats.map(_.rows).sum,
      stagedStats.length)

    // 2. COMMIT (critical section) — shared with [[publishWap]], which
    //    enters it with pre-placed files instead of a staging rename.
    try commitMeta(base, tag, expectedPrev, stagedStats,
      moveFrom = Some((staging, stagingName)), blooms = blooms,
      strStats = strStatsOf(staging),
      layoutTag = layoutTag, sortTag = sortTag)
    catch {
      case e: Throwable =>
        // best-effort staging cleanup on any failed commit; recover() also
        // clears crashed stagings
        if (fs.exists(staging)) fs.delete(staging, true)
        throw e
    }
  }

  /** The commit CRITICAL SECTION: re-read the pointer, allocate the next
    * version, move the staged batch in, claim the manifest, swap the
    * pointer. Serialized per store path within the JVM; across JVMs the
    * manifest rename-WITHOUT-overwrite is the atomic claim on HDFS-class
    * filesystems (a lost race throws rather than silently orphaning a
    * commit). `base` is (re-)evaluated HERE, under the lock, so
    * append-style commits rebase onto whatever version a concurrent writer
    * just acknowledged. `moveFrom = Some((stagingDir, stagingName))` is
    * the normal commit shape (rename the staged batch to the version's
    * batch dir); `None` is the WAP-publish shape — the entries' files
    * already sit at their final immutable location (`data/wap-*`) and only
    * metadata moves.
    */
  private def commitMeta(base: () => Seq[Group], tag: Option[String],
      expectedPrev: Option[Option[Long]], stagedStats: Array[FileEntry],
      moveFrom: Option[(Path, String)],
      blooms: BatchBlooms = BatchBlooms.empty,
      strStats: Seq[String] = Nil,
      layoutTag: Option[String] = None,
      sortTag: Option[Seq[String]] = None): Long =
    SnapshotStore.lockFor(fs.makeQualified(new Path(path)).toString).synchronized {
      val prev = latestVersion
      // Tagged replays re-check under the lock: a concurrent replay of the
      // same tag that won the race means this attempt must no-op, not
      // double-append.
      tag.flatMap(taggedVersion) match {
        case Some(acked) =>
          moveFrom.foreach { case (staging, _) => fs.delete(staging, true) }
          acked
        case None =>
          // Rewrite-style commits (compaction, deleteWhere) were planned
          // against a specific version; a concurrent commit since then
          // would be silently dropped from the carried file set. Fail them
          // loudly — the caller re-plans (the Iceberg validation
          // discipline).
          expectedPrev.foreach { exp =>
            if (prev != exp)
              throw new java.util.ConcurrentModificationException(
                s"snapshot store at $path advanced from $exp to $prev " +
                  "since this rewrite was planned — re-plan and retry")
          }
          val v = prev.getOrElse(0L) + 1L
          // Clear debris from a commit that crashed after writing files
          // but before the pointer swap — its version number is ours to
          // reuse. The in-JVM lock rules out same-JVM competitors, but a
          // writer in ANOTHER JVM sits between its manifest/batch rename
          // and its pointer swap for a brief window — deleting its files
          // as "debris" would silently destroy an acknowledged-to-be
          // commit (the r12 review finding). Age arbitrates: anything
          // younger than the grace window is treated as a LIVE concurrent
          // commit and refused loudly; genuine crash debris ages past the
          // window and clears automatically on the next commit.
          val now = System.currentTimeMillis()
          def young(p: Path): Boolean = fs.exists(p) &&
            now - fs.getFileStatus(p).getModificationTime <
              SnapshotStore.DebrisGraceMs
          val debrisManifests = versions.filter(_ >= v)
          val debrisPaths = debrisManifests.map(manifestPath) ++
            (if (fs.exists(batchDir(v))) Seq(batchDir(v)) else Seq.empty)
          val live = debrisPaths.filter(young)
          if (live.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"unacknowledged commit artifacts at $path look LIVE " +
                s"(age < ${SnapshotStore.DebrisGraceMs} ms): " +
                s"${live.mkString(", ")} — a concurrent writer may be " +
                "mid-commit; retry shortly, or run recover() if no writer " +
                "is live")
          debrisManifests.foreach(w => fs.delete(manifestPath(w), false))
          if (fs.exists(batchDir(v))) fs.delete(batchDir(v), true)
          val dir = batchDir(v)
          val stats = moveFrom match {
            case Some((_, stagingName)) => stagedStats.map(e => e.copy(
              file = e.file.replace(stagingName, dir.getName), batch = v))
            // WAP publish: files are already final; only the batch number
            // (the readIncremental/CDC basis) is allocated here
            case None => stagedStats.map(_.copy(batch = v))
          }
          // CLAIM BEFORE the batch rename: the exclusive manifest claim is
          // the ONLY cross-JVM arbitration for version v, so the
          // version-numbered batch dir may be touched exclusively by the
          // claim winner. Renaming first (the old order) let two writers
          // race the unsynchronized exists-check/rename window — on
          // rename-into-existing filesystems the loser's staging NESTED
          // inside the winner's batch dir, and if the nester then won the
          // claim, an acknowledged manifest referenced paths that were
          // never created (the r13 self-review finding). A crash between
          // claim and rename leaves a young unacknowledged manifest — the
          // standard debris shape, refused while young and reclaimed aged.
          val nonce = writeManifestFor(v, base, tag, stats, blooms,
            strStats, layoutTag, sortTag)
          try {
            moveFrom.foreach { case (staging, _) =>
              if (fs.listStatus(staging).nonEmpty) {
                if (!fs.rename(staging, dir))
                  throw new java.io.IOException(
                    s"snapshot batch rename failed: $staging -> $dir")
              } else fs.delete(staging, true)
            }
            acknowledge(v, nonce)
          } catch {
            case e: Throwable =>
              // release OUR unacknowledged claim (verified by nonce, so a
              // competitor's re-claim is never touched) so an immediate
              // retry isn't refused behind the debris grace window
              if (readNonceOf(v).contains(nonce))
                fs.delete(manifestPath(v), false)
              throw e
          }
      }
    }

  /** Write the group files and CLAIM version `v`'s manifest (the exclusive
    * cross-JVM arbitration); returns the commit nonce the caller passes to
    * [[acknowledge]] AFTER moving the data batch into place.
    */
  private def writeManifestFor(v: Long, base: () => Seq[Group],
      tag: Option[String], stats: Array[FileEntry],
      blooms: BatchBlooms = BatchBlooms.empty,
      strStats: Seq[String] = Nil,
      layoutTag: Option[String] = None,
      sortTag: Option[Seq[String]] = None): String = {
    // Carried groups ride BY REFERENCE; only the groups this commit
    // actually changed (partial survivors of a rewrite) and the new batch
    // become group writes — the O(changed) commit cost two-level
    // manifests exist for. Stats-name alignment happens at READ time, by
    // name, so shared immutable groups stay valid across writers
    // declaring different columns; the manifest's #stats header declares
    // the version's effective name list (writer's columns first, then
    // every column the carried groups still track).
    val carried = base()
    // the fresh batch's zone-slot names: declared columns plus the
    // derived projection-word slots of its STRING stats columns (r17) —
    // order must match statsForDir's extra-pair emission exactly
    val batchNames = statsCols ++
      statsCols.filter(strStats.contains).flatMap(SnapshotStore.strWordNames)
    val effNames = statsCols ++
      (batchNames.drop(statsCols.size) ++ carried.flatMap(_.names))
        .distinct.filterNot(statsCols.contains)
    val groups = carried ++
      (if (stats.nonEmpty) Seq(Group(None, batchNames, stats.toSeq))
       else Seq.empty)
    val noInfo = (Double.NegativeInfinity, Double.PositiveInfinity)
    // group-level summary (file count + whole-group bounds per effective
    // stats column), written onto the ref line so pruned reads and pure
    // appends never open the group file
    def summarize(g: Group)
        : (Int, Long, Seq[(Double, Double)], Long, Seq[Long]) =
      if (g.entries.nonEmpty) {
        val aligned = alignEntries(g.names, effNames, g.entries)
        val bounds = effNames.indices.map { i =>
          val bs = aligned.map(e =>
            if (i == 0) (e.minS, e.maxS)
            else e.extra.lift(i - 1).getOrElse(noInfo))
          (bs.map(_._1).min, bs.map(_._2).max)
        }
        // group-level PHYSICAL null counts (r16): the sum is sound only
        // when EVERY entry recorded the column — one unknown poisons the
        // whole group's slot to -1 (no information)
        val ncs = effNames.indices.map { i =>
          val per = aligned.map(_.nulls.lift(i).getOrElse(-1L))
          if (per.exists(_ < 0L)) -1L else per.sum
        }
        // net rows: what a reader sees (DV-masked rows excluded) — the
        // v2 list field snapshots() censuses from without opening groups
        (g.entries.size, g.entries.map(_.visibleRows).sum, bounds,
          g.entries.map(_.rows).sum, ncs)
      } else {
        // ref-only carry: re-key the previous list's summary by name
        val m = g.names.zip(g.summary.getOrElse(Seq.empty)).toMap
        val mN = g.names.zip(g.nullsSum).toMap
        (g.files, g.rows, effNames.map(n => m.getOrElse(n, noInfo)),
          g.physRows, effNames.map(n => mN.getOrElse(n, -1L)))
      }
    val refs = groups.map { g =>
      val name = g.ref.getOrElse {
        val n = s"g-${java.util.UUID.randomUUID()}.group"
        writeAtomic(groupPath(n), groupBody(g.entries, g.names),
          overwrite = false)
        // bloom sidecar for the files this batch computed sketches for,
        // PLUS carried-forward lines from the group this one re-expresses
        // (r16; the r15 advice finding): a DV attach / partial-rewrite
        // carry leaves the surviving files' contents unchanged, so their
        // old sketches remain sound — without the carry, one scattered
        // takedown stripped ~every group's sidecar and keyed reads
        // silently degraded to zone-only pruning thereafter. Carried
        // lines must match the current bloom column set and hash count;
        // anything else stays sidecar-less (conservative keep). Written
        // BEFORE the manifest claim like the group itself; unreferenced
        // on a crash → same aged-debris sweep as its group.
        val carriedSc = g.origin.flatMap(readBloomSidecar)
          .filter(s => s.names == bloomCols &&
            s.hashes == SnapshotStore.BloomHashes)
        val carriedBlooms: Map[String, Seq[Array[Byte]]] =
          carriedSc.toSeq.flatMap(_.files).toMap
        val withBlooms = g.entries.flatMap { e =>
          val bn = new Path(e.file).getName
          blooms.files.get(bn).orElse(carriedBlooms.get(bn)).map(bn -> _)
        }
        // group `*` line: the fresh batch gets this commit's dedicated
        // group sketch; a re-expressed carried group (DV attach /
        // partial-rewrite survivor set) carries its origin's — sound as
        // a SUPERSET bloom, since the carry only ever drops files
        val gUnion =
          if (g.origin.isEmpty) blooms.group
          else carriedSc.map(_.union).getOrElse(Seq.empty)
        if (withBlooms.nonEmpty)
          writeAtomic(bloomSidecarPath(n),
            bloomBody(bloomCols, withBlooms, gUnion), overwrite = false)
        n
      }
      val (files, rows, bounds, phys, ncs) = summarize(g)
      RefLine(name, files, rows, Some(bounds), phys, ncs)
    }
    val nonce = java.util.UUID.randomUUID().toString
    // string-projection markers: this batch's string-typed stats columns
    // UNION the previous version's markers (types are table-global —
    // mergeSchema rejects drift — so the union is consistent); a
    // metadata-only commit (stats empty, strStats Nil) carries the
    // previous markers forward unchanged
    val prevStr = if (v > 1L && fs.exists(manifestPath(v - 1L)))
      listInfoOf(v - 1L).strStats else Seq.empty
    val effStr = (prevStr ++ strStats).distinct.filter(effNames.contains)
    writeAtomic(manifestPath(v),
      listBody(refs, tag, effStr, effNames, nonce, layoutTag, sortTag),
      overwrite = false)
    nonce
  }

  /** Final step of a commit: verify OUR manifest claim still stands, then
    * swap the pointer. The re-verify closes the stalled-writer window: a
    * committer that stalled past [[SnapshotStore.DebrisGraceMs]] between
    * its manifest rename and this pointer swap may have had its manifest
    * aged out as crash debris and the version number re-claimed by another
    * writer — acknowledging blindly would bless the COMPETITOR's manifest
    * (or a since-deleted one) as this commit. One metadata read (the
    * per-commit nonce written into the `#nonce=` header) arbitrates:
    * mismatch or absence means this commit did NOT land and must surface
    * `ConcurrentModificationException`, never a silent mis-acknowledge.
    */
  private[graft] def acknowledge(v: Long, nonce: String): Long = {
    val p = manifestPath(v)
    val lines = if (fs.exists(p)) readLines(p) else Seq.empty
    val onDisk = lines.find(_.startsWith("#nonce=")).map(_.stripPrefix("#nonce="))
    if (!onDisk.contains(nonce))
      throw new java.util.ConcurrentModificationException(
        s"commit claim on v$v at $path was superseded while unacknowledged " +
          s"(expected nonce $nonce, found ${onDisk.getOrElse("<absent>")}) — " +
          "this commit did not land; re-run it")
    // The nonce protects the manifest, not its GROUP files: a writer
    // stalled past DebrisGraceMs between its group writes and the manifest
    // claim can have those (then-unreferenced) groups reclaimed by a
    // concurrent recover()/expire() in another JVM — acknowledging then
    // would publish a pointer naming a manifest with dangling @group refs,
    // an unreadable live table. Sweep every ref before the swap; cost is
    // O(#groups) existence probes, bounded by compaction.
    val missing = lines.filter(_.startsWith("@"))
      .map(_.split("\t")(0).stripPrefix("@"))
      .filterNot(n => fs.exists(groupPath(n)))
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"commit v$v at $path names group files reclaimed while this " +
          s"writer was stalled: ${missing.mkString(", ")} — this commit " +
          "did not land; re-run it")
    // RESIDUAL WINDOW (known, not closable with rename-based primitives):
    // the nonce/group reads above and the pointer swap below are
    // check-then-act, not one atomic step. A writer that stalls AGAIN
    // right here — after verifying, before swapping — for longer than the
    // grace window can still bless a competitor's re-claimed v. The nonce
    // narrows the window from the whole data-rename span to these few
    // metadata calls; genuinely closing it needs a compare-and-swap
    // pointer (conditional PUT / catalog row — the docs/OBJECT-STORES.md
    // upgrade path, the same seam as [[SnapshotStore.ClaimArbiter]]).
    writeAtomic(pointerFile, v.toString, overwrite = true)
    v
  }

  /** The globally unique id of the COMMIT currently holding version `v`
    * (the per-commit claim nonce, exposed). Version NUMBERS can be reused
    * — [[rollbackTo]] abandons a suffix and the next commit re-allocates
    * those numbers — but commit ids never repeat, so a reproducibility pin
    * is the PAIR (version, commitId): record it at pin time and re-check
    * before trusting [[readAt]], and an incremental consumer that
    * checkpoints (version, commitId) detects a rollback (id mismatch)
    * instead of silently reading different data under a familiar number.
    */
  def commitIdOf(v: Long): Option[String] = readNonceOf(v)

  /** The per-commit nonce a version's manifest was claimed under, if any. */
  private def readNonceOf(v: Long): Option[String] = {
    val p = manifestPath(v)
    if (!fs.exists(p)) None
    else readLines(p).find(_.startsWith("#nonce=")).map(_.stripPrefix("#nonce="))
  }

  private def crcOf(body: String): String = {
    val crc = new java.util.zip.CRC32
    crc.update(body.getBytes(StandardCharsets.UTF_8))
    java.lang.Long.toHexString(crc.getValue)
  }

  /** An immutable group file: entry TSV under its own #stats header. */
  private def groupBody(entries: Seq[FileEntry], names: Seq[String]): String = {
    val body = entries.map { e =>
      val fixed = String.format(Locale.ROOT,
        "%s\t%d\t%d\t%s\t%s\t%d", e.file, java.lang.Long.valueOf(e.batch),
        java.lang.Long.valueOf(e.rows),
        java.lang.Double.toString(e.minS), java.lang.Double.toString(e.maxS),
        java.lang.Long.valueOf(e.bytes))
      val extras = e.extra.map { case (mn, mx) =>
        "\t" + java.lang.Double.toString(mn) + "\t" + java.lang.Double.toString(mx)
      }.mkString
      val dvF = if (e.dv.isEmpty) ""
        else s"\tdv=${e.dv.mkString("+")}:${e.dvRows}"
      val ncF = if (e.nulls.isEmpty) ""
        else s"\tnc=${e.nulls.mkString(",")}"
      fixed + extras + dvF + ncF
    }.mkString("\n")
    s"#crc=${crcOf(body)}\n#stats=${names.mkString(",")}\n" + body
  }

  /** The per-version manifest: a LIST of @group references, each with its
    * file count and whole-group (min, max) per stats column — the
    * group-level zone map pruned reads skip on.
    */
  private def listBody(refs: Seq[RefLine], tag: Option[String],
      strStats: Seq[String],
      names: Seq[String], nonce: String,
      layoutTag: Option[String] = None,
      sortTag: Option[Seq[String]] = None): String = {
    val body = refs.map { r =>
      val bounds = r.summary.getOrElse(Seq.empty).map { case (mn, mx) =>
        "\t" + java.lang.Double.toString(mn) + "\t" + java.lang.Double.toString(mx)
      }.mkString
      // group-level null counts (r16): physical row sum + per-column
      // physical null sums, -1 = unknown; omitted when nothing is known
      val nc = if (r.physRows < 0L || r.nulls.isEmpty ||
          r.nulls.forall(_ < 0L)) ""
        else s"\tnc=${r.physRows}:${r.nulls.mkString(",")}"
      s"@${r.name}\t${r.files}\t${r.rows}$bounds$nc"
    }.mkString("\n")
    tag.map(t => s"#tag=$t\n").getOrElse("") +
      layoutTag.map(l => s"#layout=$l\n").getOrElse("") +
      sortTag.map(c => s"#sortorder=${c.mkString(",")}\n").getOrElse("") +
      "#v=2\n" +
      s"#crc=${crcOf(body)}\n" +
      s"#stats=${names.mkString(",")}\n" +
      (if (strStats.nonEmpty) s"#strstats=${strStats.mkString(",")}\n" else "") +
      s"#nonce=$nonce\n" + body
  }

  private def readFiles(files: Seq[String], schemaFrom: Seq[FileEntry]): DataFrame =
    // mergeSchema: commits may evolve the schema (the GridStore.raw lesson —
    // which footer Spark samples must not decide whether an evolved column
    // exists); manifests bound the file set, so the footer merge is O(#files)
    if (files.nonEmpty) spark.read.option("mergeSchema", "true").parquet(files: _*)
    else {
      // An empty selection still needs the table schema: derive it from any
      // file of the source manifest (metadata-only footer read).
      require(schemaFrom.nonEmpty, s"snapshot at $path has no data files")
      spark.read.parquet(schemaFrom.head.file).limit(0)
    }

  // ---- DELETE VECTORS (merge-on-read deletion, r15) --------------------
  // A delete vector is an immutable parquet directory under `_dv/` holding
  // (f: data-file basename, pos: physical row position) for rows a delete
  // MASKED without rewriting their file — the Iceberg v2 / Delta DV idea.
  // Entries reference their vectors by name; readers anti-join the masked
  // positions out (row positions come from the parquet reader's
  // `_metadata.row_index`, stable because data files are immutable).
  // A scattered takedown (the k25/k26 compliance story) is then O(hits)
  // metadata + O(hits) vector rows instead of rewriting ~every file that
  // contains one matching row; compaction folds vectors into real rewrites.

  private def dvDirPath(name: String) = new Path(s"$path/_dv/$name")

  private val FileCol = "__graft_file"
  private val PosCol = "__graft_pos"

  private def basenameOf(file: String): String = new Path(file).getName

  /** Scan `files` with (basename, row-position) helper columns — the
    * physical-position view DV writes and DV-aware reads are built from.
    */
  private def scanWithPositions(files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(files: _*)
      .withColumn(FileCol,
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn(PosCol, col("_metadata.row_index"))


  /** Anti-apply every delete vector `entries` reference to a positioned
    * scan of (a subset of) their files. Vector rows for files outside the
    * scan are inert (anti-join misses them) — pruned reads stay exact.
    */
  private def antiDv(scan: DataFrame, entries: Seq[FileEntry]): DataFrame = {
    val names = entries.flatMap(_.dv).distinct
    if (names.isEmpty) scan
    else {
      val dv = spark.read.parquet(names.map(n => dvDirPath(n).toString): _*)
      // EXPLICIT broadcast (r16): vector rows are bounded by compaction
      // (compactSmall folds any file ≥ half-masked, so live vectors stay
      // a small fraction of the table) — without the hint a store that
      // accumulated >10 MB of vectors before folding would silently flip
      // this anti-join to a sort-merge that SHUFFLES the whole data scan.
      // The vector side must never decide the data side's distribution.
      //
      // But the hint is SIZE-GATED (r17, the r16 advice): nothing FORCES
      // maintainDv/foldDv to run, and dvMaxFraction only bounds per-epoch
      // per-file fractions — unbounded stacked epochs could push the
      // vector side past Spark's 8 GB broadcast hard cap, turning a
      // degraded-but-correct read into an outright failure. The manifest
      // already knows the masked-row count driver-side (entries carry
      // dvRows); above [[SnapshotStore.DvBroadcastMaxRows]] the join runs
      // unhinted (sort-merge — slow, loud in the plan, correct) and the
      // operator to run is foldDv().
      val masked = entries.map(_.dvRows).sum
      val dvSide = dv.select(col("f").as("__dv_f"), col("pos").as("__dv_p"))
      val probe =
        if (masked <= SnapshotStore.DvBroadcastMaxRows) broadcast(dvSide)
        else dvSide
      scan.join(probe,
        scan(FileCol) === col("__dv_f") && scan(PosCol) === col("__dv_p"),
        "left_anti")
    }
  }

  /** Visible rows of `entries` WITH the positional helper columns — what
    * mutation planning (deleteWhere, merge hit detection) scans: existing
    * vectors are applied first, so already-masked rows can never re-match.
    */
  private def visibleWithPositions(entries: Seq[FileEntry]): DataFrame =
    antiDv(scanWithPositions(entries.map(_.file)), entries)

  /** DV-aware entry read — THE read path: files without vectors read
    * plain (zero overhead); masked files scan with positions, anti-join
    * their vectors, and drop the helpers. readFiles stays the raw
    * physical read for vector-less call sites.
    */
  private def readEntriesDf(entries: Seq[FileEntry],
      schemaFrom: Seq[FileEntry]): DataFrame = {
    val (dved, plain) = entries.partition(_.dv.nonEmpty)
    if (dved.isEmpty) readFiles(entries.map(_.file), schemaFrom)
    else {
      val masked = visibleWithPositions(dved).drop(FileCol, PosCol)
      if (plain.isEmpty) masked
      else readFiles(plain.map(_.file), schemaFrom)
        .unionByName(masked, allowMissingColumns = true)
    }
  }

  /** (files carrying delete vectors, total masked rows) at version `v` —
    * the merge-on-read observability k33 and the dv stress row pin.
    */
  def dvStats(v: Long): (Int, Long) = {
    val m = readManifest(v)
    (m.count(_.dv.nonEmpty), m.map(_.dvRows).sum)
  }

  /** The current table state. */
  def read(): DataFrame = readAt(latestVersion.getOrElse(
    throw new IllegalStateException(s"no committed snapshot at $path")))

  /** Time travel: the table exactly as of version `v`. */
  def readAt(v: Long): DataFrame = {
    val m = readManifest(v)
    readEntriesDf(m, m)
  }

  /** Current file census — the quantity [[compactSmall]] exists to bound.
    * Read from the list's recorded per-group counts when available (no
    * group file opens); legacy refs without counts load once.
    */
  def fileCount: Int = latestVersion.map { v =>
    val info = listInfoOf(v)
    info.refs.map(r =>
      if (r.files >= 0) r.files else readGroupFile(r.name)._2.size).sum +
      info.inline.map(_.entries.size).getOrElse(0)
  }.getOrElse(0)

  /** Files added by commits in `(fromV, toV]` — incremental consumption.
    * `fromV = 0` reads everything up to `toV`.
    *
    * ROLLBACK HAZARD: version (and therefore batch) numbers are reused
    * after [[rollbackTo]] — a consumer checkpointed above a rolled-back
    * version would silently skip the re-committed rows, because the new
    * commits carry batch numbers the checkpoint already claims to have
    * seen. Checkpoint the PAIR (version, [[commitIdOf]]) and on mismatch
    * reprocess from the rollback target, never the bare number — the
    * ready-made form is a named ref ([[updateRef]] after each drain):
    * it records the pair, [[expire]] then cannot outrun the consumer,
    * and a rollback turns the checkpoint detectably stale.
    */
  def readIncremental(fromV: Long, toV: Long): DataFrame = {
    val m = readManifest(toV)
    // DV caveat (shared with every MoR format): a file's vectors apply as
    // of toV, and a DV-only delete ADDS no files — incremental consumers
    // see inserts only; deletes surface through [[changelog]].
    readEntriesDf(m.filter(e => e.batch > fromV), m)
  }

  /** ROW-LEVEL CDC between two versions, derived from the copy-on-write
    * file diff (the Iceberg/Delta changelog idea): files present in `toV`
    * but not `fromV` hold candidate inserts, files present in `fromV` but
    * not `toV` hold candidate deletes, and rows rewritten by compaction or
    * a partial-file delete appear on both sides — cancelled by a null-safe
    * anti-join on FULL-ROW equality (every column both sides share), so
    * only NET changes surface. Cancelling on the keys alone would be
    * wrong: a row deleted and re-appended with the same key but a NEW
    * payload inside the window would net to nothing, and a downstream
    * consumer would silently miss every update — full-row equality keeps
    * rewritten-but-unchanged rows cancelling byte-identically while a
    * same-key changed-payload row correctly surfaces as delete + insert.
    * Output is the row payload plus `_change` ('insert' | 'delete').
    *
    * Scale shape: the scan is bounded by the CHANGED files only (carried
    * files never open), and the cancel join still hash-shuffles on
    * equi-keys (null-safe equality extracts as join keys). Keys must
    * uniquely identify a row for the delete/insert pairing to be exact —
    * the same precondition every CDC-from-COW derivation has.
    *
    * Retention contract: BOTH endpoints must be retained versions —
    * [[expire]] keeps only the newest `keepLast` manifests, so a CDC
    * consumer's checkpoint must stay inside the retention window.
    */
  def changelog(fromV: Long, toV: Long, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "changelog needs key columns")
    // ACKNOWLEDGED ceiling, not bare existence: an unacknowledged orphan
    // manifest above the pointer (a commit crashed inside the debris grace
    // window) exists on disk but was never committed — accepting it as an
    // endpoint would hand a CDC consumer never-committed rows as inserts.
    // Mirrors taggedVersion/snapshots(), which also consult only versions
    // at or below the pointer.
    val ceiling = latestVersion.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $path"))
    Seq(fromV, toV).foreach { v =>
      require(v <= ceiling && fs.exists(manifestPath(v)),
        s"changelog endpoint v$v is not an acknowledged retained version " +
          s"at $path (ceiling v$ceiling) — expire() retention must outlive " +
          "every CDC consumer's window (checkpoint within keepLast " +
          "versions, or raise keepLast)")
    }
    // Group-level short-circuit: refs SHARED by both manifests are the
    // same immutable group — their files are carried on both sides, no
    // net change can hide there, and the group file is never even opened.
    // Metadata cost is O(changed groups), not O(table files).
    val fromInfo = listInfoOf(fromV)
    val toInfo = listInfoOf(toV)
    val sharedRefs = fromInfo.refs.map(_.name).toSet
      .intersect(toInfo.refs.map(_.name).toSet)
    def changedEntries(info: ListInfo): Seq[FileEntry] =
      info.refs.map(_.name).filterNot(sharedRefs.contains)
        .flatMap(n => readGroupFile(n)._2) ++
        info.inline.toSeq.flatMap(_.entries)
    val fromCh = changedEntries(fromInfo)
    val toCh = changedEntries(toInfo)
    // entry IDENTITY is (file, delete-vector set): a DV-only delete keeps
    // the file path but changes what a reader SEES — the old state must
    // land on the removed side and the masked state on the added side so
    // the full-row cancel nets exactly the newly-masked rows as deletes
    // (r15; by file path alone a MoR delete produced an EMPTY changelog)
    def dvKey(e: FileEntry): (String, Seq[String]) = (e.file, e.dv)
    val fromKeys = fromCh.map(dvKey).toSet
    val toKeys = toCh.map(dvKey).toSet
    val addedE = toCh.filterNot(e => fromKeys(dvKey(e)))
    val removedE = fromCh.filterNot(e => toKeys(dvKey(e)))
    // a side selecting no files still needs the table schema: borrow any
    // live entry — own changed groups first, then a shared group, then
    // the other side (e.g. deleteWhere removed every row) — the delete
    // rows must still surface, not throw "no data files"
    lazy val sharedEntries = sharedRefs.toSeq.sorted.headOption
      .map(n => readGroupFile(n)._2).getOrElse(Seq.empty)
    def schemaFrom(own: Seq[FileEntry], other: Seq[FileEntry]): Seq[FileEntry] =
      if (own.nonEmpty) own
      else if (sharedEntries.nonEmpty) sharedEntries
      else other
    // each side reads with ITS OWN DV state applied
    val added = readEntriesDf(addedE, schemaFrom(toCh, fromCh))
    val removed = readEntriesDf(removedE, schemaFrom(fromCh, toCh))
    // schema evolution may leave columns only one side has (merged reads
    // are per-side); cancellation compares over the UNION of columns with
    // the missing side padded NULL (null-safe equality), so a rewrite
    // whose only change is a newly added column's VALUES still surfaces
    // as delete + insert, while evolution-padded identical rows (null on
    // both sides) cancel — comparing only the shared columns silently
    // swallowed every such update (the r13 review finding)
    require(keyCols.forall(c =>
        added.columns.contains(c) && removed.columns.contains(c)),
      s"changelog key columns $keyCols must exist at both endpoints " +
        s"(added: ${added.columns.toSeq}, removed: ${removed.columns.toSeq})")
    val allCols = (added.columns ++
      removed.columns.filterNot(added.columns.contains)).toSeq
    def pad(df: DataFrame, other: DataFrame): DataFrame =
      allCols.filterNot(df.columns.contains).foldLeft(df)((d, c) =>
        d.withColumn(c, lit(null).cast(other.schema(c).dataType)))
    val a = pad(added, removed)
    val r = pad(removed, added)
    def cancel(keep: DataFrame, drop: DataFrame): DataFrame =
      keep.join(drop.select(allCols.map(drop(_)): _*),
        allCols.map(c => keep(c) <=> drop(c)).reduce(_ && _), "left_anti")
    val inserts = cancel(a, r).withColumn("_change", lit("insert"))
    val deletes = cancel(r, a).withColumn("_change", lit("delete"))
    inserts.unionByName(deletes, allowMissingColumns = true)
  }

  /** The snapshots METADATA table (Iceberg's `table$snapshots` idea): one
    * row per acknowledged version — files/rows/bytes added by that commit,
    * files/rows carried in its full manifest, and its writer tag.
    *
    * O(groups) per version (r15; was O(table files) — the r14 verdict's
    * linear census_entry_bytes curve): totals aggregate from the v2 ref
    * lines' recorded file/net-row counts WITHOUT opening group files, and
    * `added_*` opens ONLY the groups this version (re)wrote — the ref-name
    * diff against the previous retained version — filtering their entries
    * by batch for exact attribution. Legacy (pre-v2) refs heal by loading
    * once, through the shared group cache. total_rows is what a reader
    * SEES (DV-masked rows net out).
    */
  def snapshots(): DataFrame = {
    val ceiling = latestVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val vs = versions.filter(_ <= ceiling)
    val infos: Map[Long, ListInfo] = vs.map(v => v -> listInfoOf(v)).toMap
    def filesOf(r: RefLine): Int =
      if (r.files >= 0) r.files else readGroupFile(r.name)._2.size
    def rowsOf(r: RefLine): Long =
      if (r.rows >= 0) r.rows
      else readGroupFile(r.name)._2.map(_.visibleRows).sum
    val rows = vs.zipWithIndex.map { case (v, i) =>
      val info = infos(v)
      val prevRefs: Set[String] =
        if (i == 0) Set.empty else infos(vs(i - 1)).refs.map(_.name).toSet
      val ownEntries = info.refs.filterNot(r => prevRefs(r.name))
        .flatMap(r => readGroupFile(r.name)._2) ++
        info.inline.toSeq.flatMap(_.entries)
      val own = ownEntries.filter(_.batch == v)
      val totalFiles = info.refs.map(filesOf).sum +
        info.inline.map(_.entries.size).getOrElse(0)
      val totalRows = info.refs.map(rowsOf).sum +
        info.inline.map(_.entries.map(_.visibleRows).sum).getOrElse(0L)
      // commit_id: the never-reused claim nonce — what distinguishes a
      // recommit under a rollback-reused version number (see commitIdOf)
      (v, readNonceOf(v).orNull, commitTimeOf(v), readTagOf(v).orNull,
        own.size, own.map(_.rows).sum, own.map(_.bytes).sum,
        totalFiles, totalRows)
    }
    import spark.implicits._
    rows.toDF("version", "commit_id", "commit_ts", "tag", "added_files",
      "added_rows", "added_bytes", "total_files", "total_rows")
      .orderBy("version")
  }

  /** The per-FILE detail metadata table at version `v` (Iceberg's
    * `table$files`): one row per live data file — batch, physical and
    * DV-masked row counts, bytes, primary-stats bounds, and the
    * delete-vector refs. This is the explicit O(table files) drill-down
    * the O(groups) [[snapshots]] census defers to; driver cost is the
    * manifest read, no data file opens.
    */
  def files(v: Long): DataFrame = {
    import spark.implicits._
    readManifest(v).map(e => (e.file, e.batch, e.rows, e.dvRows, e.bytes,
      e.minS, e.maxS, e.dv.mkString("+")))
      .toDF("file", "batch", "rows", "dv_rows", "bytes", "min_stats",
        "max_stats", "dv")
      .orderBy("file")
  }

  /** Commit wall-clock of retained version `v` (epoch millis): the
    * manifest file's modification time — the claim instant on every
    * supported filesystem (object stores stamp server-side). An
    * OPERATIONAL timestamp, not a data watermark: a rollback re-claim
    * restamps it (consistent with the version number being reused — the
    * never-reused identity is [[commitIdOf]]), and cross-writer clock
    * skew applies exactly as the debris arbitration already assumes.
    */
  def commitTimeOf(v: Long): Long = {
    val p = manifestPath(v)
    require(fs.exists(p), s"snapshot version $v is not retained at $path")
    fs.getFileStatus(p).getModificationTime
  }

  /** Time travel BY TIMESTAMP (Iceberg's as-of-timestamp): the newest
    * acknowledged retained version whose commit instant is at or before
    * `tsMillis`. Loud on BOTH failure shapes: "before the table existed",
    * and an instant that falls in EXPIRED history — retention can leave
    * gaps (a ref-pinned old version survives `expire` while its
    * successors don't), and resolving across a gap would silently serve
    * a state older than the table actually held at that instant.
    * Resolution scans ALL retained versions and takes max(v where
    * commit time <= ts) — a first-hit descending probe would assume
    * commit mtimes are monotone in version order, which cross-writer
    * clock skew or an mtime restamp (store copied/restored, object-store
    * migration) silently breaks (the r14 advice finding); the scan is one
    * getFileStatus per retained version, bounded by expire() retention.
    */
  def readAsOf(tsMillis: Long): DataFrame = {
    val ceiling = latestVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val retained = versions.filter(_ <= ceiling)
    val resolved = retained.filter(v => commitTimeOf(v) <= tsMillis)
      .maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at $path committed at or before epoch-millis " +
          s"$tsMillis (history starts at ${commitTimeOf(retained.head)})"))
    require(resolved == ceiling || retained.contains(resolved + 1),
      s"the table state at epoch-millis $tsMillis at $path fell in EXPIRED " +
        s"history (the versions after v$resolved up to the next retained " +
        "one are gone) — serving v" + resolved + " would be silently stale; " +
        "pin versions with createRef before expiring when historical " +
        "instants must stay resolvable")
    readAt(resolved)
  }

  /** ROLL BACK the table to retained version `v` (Iceberg's rollback —
    * the "undo the bad commit" verb): the pointer re-acknowledges `v` and
    * every version ABOVE it is abandoned — manifests and their batch dirs
    * are reclaimed immediately (they are referenced by nothing ≤ v:
    * version w's batch files appear only in manifests ≥ w, and shared
    * group files survive for the retained manifests that reference them;
    * orphaned groups age out via expire/recover). Destructive for the
    * abandoned suffix BY DESIGN — time travel above `v` is gone; use
    * [[readAt]] first if the bad data needs forensics. Serialized with
    * commits; a concurrent writer's in-flight claim above `v` fails its
    * nonce re-verify after the rollback deletes it.
    *
    * NUMBER-REUSE HAZARD (differs from Iceberg, which never reuses
    * snapshot ids): the next commit after a rollback re-allocates the
    * abandoned version and batch numbers, so a reader pinned to a bare
    * pre-rollback version number silently gets DIFFERENT data from
    * [[readAt]], and a [[readIncremental]] consumer checkpointed above the
    * recommitted version silently misses rows. Pins and checkpoints must
    * carry (version, [[commitIdOf]]) — the commit id never repeats, so the
    * mismatch is detectable. Named refs ([[createRef]]) record exactly
    * that pair: refs above `v` turn STALE after a rollback and
    * [[readRef]] fails loudly instead of reading the recommit.
    */
  def rollbackTo(v: Long): Unit =
    SnapshotStore.lockFor(fs.makeQualified(new Path(path)).toString).synchronized {
      val cur = latestVersion.getOrElse(throw new IllegalStateException(
        s"no committed snapshot at $path — nothing to roll back"))
      require(fs.exists(manifestPath(v)),
        s"cannot roll back to v$v at $path — not a retained version")
      require(v <= cur, s"cannot roll back FORWARD to v$v (current is v$cur)")
      versions.filter(_ > v).foreach { w =>
        fs.delete(manifestPath(w), false)
        fs.delete(batchDir(w), true)
      }
      writeAtomic(pointerFile, v.toString, overwrite = true)
    }

  // ─── Named refs (the Iceberg tag/branch-head idea on one file per ref):
  // a human-stable name pinned to a (version, commitId) PAIR, because bare
  // version numbers are reusable after rollbackTo while commit ids never
  // repeat — the pair is the reproducibility identity. Two idioms:
  // training-run pins (createRef once, readRef forever) and consumer
  // checkpoints (updateRef after each readIncremental/changelog drain).
  // Valid refs PROTECT their version from expire(); stale refs (the
  // recorded commit id no longer holds the version — a rollback reused
  // the number, or retention outran an unpinned consumer) stay on disk as
  // the audit trail, fail readRef loudly, and protect nothing.

  private def refPath(name: String) = new Path(s"$path/_refs/$name")
  private def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}") &&
        !name.contains(".."),
      s"malformed ref name: '$name' (alnum start, [A-Za-z0-9._-], <=64 chars)")

  private def refEntries(): Seq[(String, Long, String)] = {
    val dir = new Path(s"$path/_refs")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filterNot(_.getPath.getName.endsWith(".tmp"))
      .filterNot(_.getPath.getName.contains(".tmp-"))
      .flatMap { st =>
        readLines(st.getPath).headOption.map(_.split("\t")).collect {
          case Array(v, id) if v.toLongOption.nonEmpty =>
            (st.getPath.getName, v.toLong, id)
        }
      }.sortBy(_._1)
  }

  /** A ref's validity: the recorded commit id still holds the version. */
  private def refValid(v: Long, id: String): Boolean =
    latestVersion.exists(v <= _) && readNonceOf(v).contains(id)

  /** Pin `name` to acknowledged version `v` — create-EXCLUSIVE (the claim
    * seam arbitrates racing creators; the loser throws). Records
    * (v, commitId) so the pin survives [[rollbackTo]]'s version-number
    * reuse DETECTABLY rather than silently reading different data.
    */
  def createRef(name: String, v: Long): Unit = {
    requireRefName(name)
    val id = refTargetId(name, v)
    writeAtomic(refPath(name), s"$v\t$id", overwrite = false)
  }

  /** Move `name` to acknowledged version `v` (atomic replace) — the
    * consumer-checkpoint verb: one owner per ref by convention,
    * last-writer-wins like every checkpoint file.
    */
  def updateRef(name: String, v: Long): Unit = {
    requireRefName(name)
    val id = refTargetId(name, v)
    writeAtomic(refPath(name), s"$v\t$id", overwrite = true)
  }

  private def refTargetId(name: String, v: Long): String = {
    val ceiling = latestVersion.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $path — nothing to pin '$name' to"))
    require(v <= ceiling && fs.exists(manifestPath(v)),
      s"cannot pin ref '$name' to v$v at $path — not an acknowledged " +
        s"retained version (ceiling v$ceiling)")
    readNonceOf(v).getOrElse(throw new IllegalStateException(
      s"v$v at $path has no commit id (pre-nonce manifest) — re-commit " +
        "before pinning refs"))
  }

  /** The recorded (version, commitId) of `name`, unvalidated; None if the
    * ref does not exist. Use [[readRef]] for the verified read.
    */
  def resolveRef(name: String): Option[(Long, String)] = {
    requireRefName(name)
    val p = refPath(name)
    if (!fs.exists(p)) None
    else readLines(p).headOption.map(_.split("\t")).collect {
      case Array(v, id) if v.toLongOption.nonEmpty => (v.toLong, id)
    }
  }

  /** [[readAt]] through a VERIFIED ref: throws if the ref is missing or
    * STALE (the recorded commit id no longer holds the version — a
    * rollback reused the number, or the version expired). A pinned
    * training run either reads exactly the bytes it pinned or fails
    * loudly; it never silently reads a recommit.
    */
  def readRef(name: String): DataFrame = {
    val (v, id) = resolveRef(name).getOrElse(throw new IllegalStateException(
      s"no ref '$name' at $path"))
    if (!refValid(v, id)) throw new IllegalStateException(
      s"ref '$name' at $path is STALE: it pinned v$v under commit $id but " +
        s"that commit no longer holds the version " +
        s"(now: ${readNonceOf(v).getOrElse("<expired>")}) — the version " +
        "was rolled back and reused, or retention outran the pin")
    readAt(v)
  }

  /** Drop a ref. Idempotent. */
  def dropRef(name: String): Unit = {
    requireRefName(name)
    fs.delete(refPath(name), false)
    ()
  }

  /** The refs METADATA table: (ref, version, commit_id, valid) — valid
    * means the recorded commit id still holds the version, i.e. readRef
    * would succeed and expire() protects it.
    */
  def refs(): DataFrame = {
    import spark.implicits._
    refEntries().map { case (n, v, id) => (n, v, id, refValid(v, id)) }
      .toDF("ref", "version", "commit_id", "valid")
  }

  // ---- WRITE-AUDIT-PUBLISH --------------------------------------------
  // Iceberg's WAP pattern on one pointer file: a producer STAGES a batch
  // as an un-published candidate (full distributed write, zero visibility
  // to readers), an auditor READS the would-be table and runs its quality
  // gates, and only then the batch is PUBLISHED — an O(metadata) append
  // onto whatever head exists by then (cherry-pick semantics: the audit
  // certifies the BATCH; publish rebases it like any append) — or
  // DISCARDED without ever having been visible. Publish is exactly-once
  // through the commit-tag mechanism: a replay of `publishWap` after any
  // crash returns the already-acknowledged version instead of
  // double-appending. Staged batches are invisible to read()/expire() and
  // protected from every debris sweep by their staged list; an abandoned
  // stage is released explicitly by [[discardWap]] (a crashed one — data
  // written, list never — ages out via [[recover]]).

  /** Every stage writes its OWN uuid-suffixed directory, even for the same
    * wap id: the staged-list claim (create-exclusive) arbitrates racing
    * stages, and unique dirs mean the loser's files can never interleave
    * with the winner's — its orphan dir just ages out via [[recover]].
    */
  private def newWapDir(id: String) =
    new Path(s"$path/data/wap-$id-${java.util.UUID.randomUUID()}")
  private def wapListPath(id: String) = new Path(s"$path/_staged/s-$id.list")
  private def wapPublishedPath(id: String) =
    new Path(s"$path/_staged/s-$id.published")
  private def wapBloomPath(id: String) = new Path(s"$path/_staged/s-$id.bloom")
  private def wapTag(id: String) = s"wap:$id"

  /** The data directories a staged/published wap's entries live in —
    * derived from recorded file paths (the list) or the tombstone body.
    */
  private def wapDirsOf(id: String): Seq[Path] =
    if (fs.exists(wapListPath(id)))
      wapEntries(id)._2.map(e => new Path(e.file).getParent).distinct
    else if (fs.exists(wapPublishedPath(id)))
      readLines(wapPublishedPath(id)).filter(_.nonEmpty)
        .map(n => new Path(s"$path/data/$n"))
    else Seq.empty

  private def requireWapId(id: String): Unit =
    require(id.nonEmpty && id.length <= 64 && id.head.isLetterOrDigit &&
      id.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-') &&
        !id.contains(".."),
      s"malformed wap id: '$id' (alnum start, [A-Za-z0-9._-], <=64 chars)")

  /** Stage `df` as un-published candidate batch `wapId`: a normal
    * distributed parquet write to the batch's own final directory plus a
    * staged list (the batch's zone-stats entries, crc-guarded) — no
    * version is allocated and no reader sees a row until [[publishWap]].
    * Ids are single-use: a crashed stage of the same id must be
    * [[discardWap]]-ed (or aged out by [[recover]]) first, never silently
    * overwritten.
    */
  def stageWap(df: DataFrame, wapId: String): Unit = {
    requireWapId(wapId)
    require(!fs.exists(wapListPath(wapId)) && !fs.exists(wapPublishedPath(wapId)),
      s"wap '$wapId' at $path is already staged or published — " +
        "discard it or pick a fresh id")
    val dir = newWapDir(wapId)
    var claimedList = false
    try {
      writeBatchParquet(df, dir.toString)
      val entries = statsForDir(dir)
      val blooms = bloomsForDir(dir, entries.map(_.rows).sum, entries.length)
      // the CLAIM: create-exclusive, so of two racing stages of the same
      // id exactly one list lands; the loser throws here and its own
      // (unique, unreferenced) dir is cleaned below
      // staged list names must cover the derived string-word slots the
      // stats pass emitted, or parse/alignment would mislabel them
      val stageNames = statsCols ++ statsCols
        .filter(strStatsOf(dir).contains).flatMap(SnapshotStore.strWordNames)
      writeAtomic(wapListPath(wapId), groupBody(entries.toSeq, stageNames),
        overwrite = false)
      claimedList = true
      // an orphan sidecar with no list is debris (a discard crashed
      // between its list and bloom deletes) — cleared only HERE, after
      // winning the list claim, where this stage provably owns the id:
      // clearing before the claim raced a concurrent winning stage and
      // could delete the WINNER's freshly written sketches (the r14
      // advice finding — degraded skipping, never wrong results)
      fs.delete(wapBloomPath(wapId), false)
      // bloom sketches ride a staged sidecar AFTER the claim (only the
      // winner writes it); publish hands them to the manifest's sidecar.
      // A crash in between just loses the sketches — conservative reads,
      // never wrong ones.
      if (blooms.files.nonEmpty) {
        val named = entries.toSeq.flatMap { e =>
          val bn = new Path(e.file).getName
          blooms.files.get(bn).map(bn -> _)
        }
        writeAtomic(wapBloomPath(wapId),
          bloomBody(bloomCols, named, blooms.group),
          overwrite = false)
      }
    } catch {
      case e: Throwable =>
        // release everything THIS call created — leaving a claimed list
        // that names deleted files would wedge the id (every later stage
        // refused as "already staged", every publish failing on missing
        // files) until a manual discard
        if (claimedList) {
          fs.delete(wapBloomPath(wapId), false)
          fs.delete(wapListPath(wapId), false)
        }
        if (fs.exists(dir)) fs.delete(dir, true)
        throw e
    }
  }

  /** The staged list's (#stats header names, entries) — bounds are facts
    * recorded under the STAGER's column list and must be re-aligned by
    * name before any other writer re-labels them (the alignEntries rule).
    */
  private def wapEntries(id: String): (Seq[String], Seq[FileEntry]) = {
    val p = wapListPath(id)
    require(fs.exists(p), s"no staged wap '$id' at $path")
    val lines = readLines(p)
    checkCrc(lines, s"staged wap $id")
    (statsHeaderOf(lines), parseEntries(lines.filterNot(_.startsWith("#"))))
  }

  /** The staged batch alone — what a batch-scoped audit reads. */
  def readWapBatch(wapId: String): DataFrame = {
    requireWapId(wapId)
    val staged = wapEntries(wapId)._2
    readFiles(staged.map(_.file), staged)
  }

  /** The WOULD-BE table: current head plus the staged batch — what a
    * table-scoped audit (row counts, invariants, dedup against history)
    * reads. A plain read; nothing becomes visible to other readers.
    */
  def readWap(wapId: String): DataFrame = {
    requireWapId(wapId)
    val staged = wapEntries(wapId)._2
    val head = latestVersion.map(readManifest).getOrElse(Seq.empty)
    readEntriesDf(head ++ staged, head ++ staged)
  }

  /** Publish staged batch `wapId` as the next version — an O(metadata)
    * append: the batch's files are already at their final location, so
    * only the manifest claim and pointer swap happen here, under the
    * commit lock, rebased onto the current head. EXACTLY-ONCE: the commit
    * carries tag `wap:<id>`, so a replay after any crash (including one
    * between the pointer swap and the staged-list retirement) finds the
    * acknowledged tag and returns that version without writing anything.
    */
  def publishWap(wapId: String): Long = {
    requireWapId(wapId)
    commitGuard()
    taggedVersion(wapTag(wapId)) match {
      case Some(v) => finishWapPublish(wapId); v
      case None =>
        val (stagedNames, rawStaged) = wapEntries(wapId)
        // the manifest will record these bounds under THIS writer's
        // statsCols (writeManifestFor's Group carries statsCols) — align
        // by name first, or a publisher declaring different columns would
        // silently re-label the stager's min/max as another column's and
        // later zone prunes would skip files that DO contain matches
        // staged data files already sit at their final paths — type the
        // string-projection markers from one of their footers, and align
        // the staged bounds to THIS writer's slot list (declared columns
        // + the derived string-word slots) so writeManifestFor's batch
        // group names them positionally right
        val wapStr = rawStaged.headOption.map { e =>
          val sch = schemaCache.computeIfAbsent(e.file,
            p => org.apache.spark.sql.graftshim.Bridge.parquetSchema(spark, p))
          statsCols.filter(c => sch.find(_.name == c)
            .exists(_.dataType == org.apache.spark.sql.types.StringType))
        }.getOrElse(Seq.empty)
        val pubNames = statsCols ++
          statsCols.filter(wapStr.contains).flatMap(SnapshotStore.strWordNames)
        val staged = alignEntries(stagedNames, pubNames, rawStaged)
        val missing = staged.filterNot(e => fs.exists(new Path(e.file)))
        require(missing.isEmpty,
          s"staged wap '$wapId' at $path references missing data files " +
            s"(${missing.map(_.file).mkString(", ")}) — the stage was " +
            "damaged; discard and re-stage")
        // staged bloom sketches carry into the published group's sidecar —
        // only when the stager's column list matches this writer's
        // (mismatched sketches would probe wrong; conservative drop)
        val blooms = parseBloomFile(wapBloomPath(wapId),
          s"staged blooms of wap $wapId")
          .filter(_.names == bloomCols)
          .map(s => BatchBlooms(s.files, s.union))
          .getOrElse(BatchBlooms.empty)
        val v = commitMeta(() => carryAllGroups(), Some(wapTag(wapId)),
          expectedPrev = None, staged.toArray, moveFrom = None,
          blooms = blooms, strStats = wapStr)
        finishWapPublish(wapId)
        v
    }
  }

  /** Retire the staged list into a `.published` tombstone naming the
    * batch's data dirs — the marker that lets [[recover]] tell a published
    * wap data dir (table data, keep) from crashed-stage debris (age out).
    * Tombstone first, then the list delete: a crash between the two leaves
    * both, which re-finishes here idempotently.
    */
  private def finishWapPublish(id: String): Unit =
    if (fs.exists(wapListPath(id))) {
      if (!fs.exists(wapPublishedPath(id)))
        writeAtomic(wapPublishedPath(id),
          wapDirsOf(id).map(_.getName).mkString("\n"), overwrite = true)
      fs.delete(wapListPath(id), false)
      fs.delete(wapBloomPath(id), false)
      ()
    }

  /** Whether `wapId` has been published (its commit tag is acknowledged) —
    * the replay check an at-least-once producer makes before re-staging.
    */
  def wapPublished(wapId: String): Boolean = {
    requireWapId(wapId)
    taggedVersion(wapTag(wapId)).nonEmpty
  }

  /** Whether `wapId` currently has a staged (un-retired) list. */
  def wapStaged(wapId: String): Boolean = {
    requireWapId(wapId)
    fs.exists(wapListPath(wapId))
  }

  /** Drop an unpublished staged batch: data dirs first, then the list — a
    * crashed half-discard leaves a list whose missing files make a later
    * publish fail LOUDLY (never a partial batch), and a discard retry
    * completes it. Refuses on a published id — those files are live table
    * data (retire them through deleteWhere/rollbackTo/expire like any
    * committed rows). Discard and publish of the same id must not race:
    * a wap id has one producer by convention (like a ref's owner).
    */
  def discardWap(wapId: String): Unit = {
    requireWapId(wapId)
    require(!fs.exists(wapPublishedPath(wapId)) &&
      taggedVersion(wapTag(wapId)).isEmpty,
      s"wap '$wapId' at $path is published — its files are table data; " +
        "this handle cannot retire them")
    // dirs, then bloom, then list LAST: a crash mid-discard leaves the
    // list, so a retry completes it and a publish fails loudly on the
    // missing files — never a half-deleted batch publishing, and never an
    // orphan bloom outliving its list (which would wedge a later re-stage
    // of the id at its sidecar claim)
    wapDirsOf(wapId).foreach(d => fs.delete(d, true))
    fs.delete(wapBloomPath(wapId), false)
    fs.delete(wapListPath(wapId), false)
    ()
  }

  /** The staged-batches METADATA table: (wap_id, files, rows, published).
    * Published ids report the recorded version's batch through the tag;
    * file/row counts are the staged list's (−1 once the list has retired).
    */
  def waps(): DataFrame = {
    import spark.implicits._
    val dir = new Path(s"$path/_staged")
    val names = if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val listed = names.collect {
      case n if n.startsWith("s-") && n.endsWith(".list") =>
        n.stripPrefix("s-").stripSuffix(".list") }.toSet
    val tombed = names.collect {
      case n if n.startsWith("s-") && n.endsWith(".published") =>
        n.stripPrefix("s-").stripSuffix(".published") }.toSet
    (listed ++ tombed).toSeq.sorted.map { id =>
      // TOCTOU guard (r14 advice): a concurrent publishWap/discardWap can
      // retire the .list between the directory listing above and this
      // read — fall back to the retired (-1, -1) shape instead of failing
      // the whole metadata-table read on a transient race
      val (files, rows) =
        if (listed(id))
          scala.util.Try { val es = wapEntries(id)._2
            (es.size.toLong, es.map(_.rows).sum) }.getOrElse((-1L, -1L))
        else (-1L, -1L)
      (id, files, rows, tombed(id) || taggedVersion(wapTag(id)).isDefined)
    }.toDF("wap_id", "files", "rows", "published")
  }

  /** Retention: keep the newest `keepLast` manifests (never fewer than the
    * live one) PLUS every version a VALID ref pins — the Iceberg rule that
    * named refs protect their snapshots — delete every data file no
    * retained manifest references and every older manifest. Returns the
    * number of data files deleted. Expiry is the only mutation in the
    * format — and it only ever touches versions no retained reader can
    * name. Stale refs protect nothing (their version's identity is
    * already gone); dropRef is how an operator releases a pin.
    */
  def expire(keepLast: Int): Int =
    SnapshotStore.lockFor(fs.makeQualified(new Path(path)).toString).synchronized {
    require(keepLast >= 1, "must retain at least the live snapshot")
    // Retention anchors on the ACKNOWLEDGED version, never the raw
    // manifest listing: after a commit crashed between manifest rename and
    // pointer swap (the exact window recover() exists for), the orphaned
    // manifest is the newest file on disk but was never acknowledged —
    // counting it toward keepLast would let expire(1) delete the LIVE
    // manifest and every acknowledged data file the orphan doesn't
    // reference. Refuse on both damage shapes (no valid pointer; manifests
    // newer than the pointer), mirroring doCommit's refuse-and-recover
    // guard.
    val ptr = latestVersion.getOrElse(throw new IllegalStateException(
      s"snapshot store at $path has no acknowledged pointer — " +
        "run recover() before expire()"))
    val vs = versions
    val orphans = vs.filter(_ > ptr)
    if (orphans.nonEmpty) throw new IllegalStateException(
      s"snapshot store at $path has unacknowledged manifests newer than " +
        s"the pointer (v$ptr): ${orphans.mkString(", ")} — run recover() " +
        "before expire()")
    val pinned = refEntries().collect {
      case (_, v, id) if vs.contains(v) && readNonceOf(v).contains(id) => v
    }.toSet
    val keep = vs.takeRight(keepLast).toSet ++ pinned
    val live: Set[String] =
      keep.flatMap(v => readManifest(v).map(_.file))
    val all: Set[String] =
      vs.flatMap(v => readManifest(v).map(_.file)).toSet
    val dead = (all -- live).toSeq.sorted
    dead.foreach(f => fs.delete(new Path(f), false))
    vs.filterNot(keep).foreach(v => fs.delete(manifestPath(v), false))
    // group files unreferenced by every RETAINED manifest are metadata
    // debris (expired versions, crashed commits). Age-gated like every
    // cleanup: a live concurrent writer's freshly written groups are not
    // referenced by ANY manifest yet and must survive.
    val liveRefs: Set[String] = keep.flatMap(v => listInfoOf(v).refs.map(_.name))
    val mdir = new Path(s"$path/_manifests")
    val nowG = System.currentTimeMillis()
    if (fs.exists(mdir))
      fs.listStatus(mdir).foreach { st =>
        val n = st.getPath.getName
        // a bloom sidecar lives and dies with its group
        val base = if (n.endsWith(".group.bloom")) n.stripSuffix(".bloom") else n
        if (n.startsWith("g-") && base.endsWith(".group") && !liveRefs(base) &&
          nowG - st.getModificationTime >= SnapshotStore.DebrisGraceMs)
          fs.delete(st.getPath, false)
      }
    // delete vectors referenced by no retained manifest are debris
    // (expired MoR history, crashed delete commits) — age-gated like every
    // cleanup: a live writer's freshly written vector is referenced by
    // nothing until its commit acknowledges
    val liveDv: Set[String] = keep.flatMap(v => readManifest(v).flatMap(_.dv))
    val dvRoot = new Path(s"$path/_dv")
    if (fs.exists(dvRoot))
      fs.listStatus(dvRoot).foreach { st =>
        if (!liveDv(st.getPath.getName) &&
          nowG - st.getModificationTime >= SnapshotStore.DebrisGraceMs)
          fs.delete(st.getPath, true)
      }
    // Drop batch dirs left empty by the deletes. NEVER touch .staging-*
    // dirs here: a concurrent commit stages OUTSIDE the lock and its dir
    // holds only _temporary while the distributed write runs — deleting it
    // would corrupt the in-flight commit (recover(), a manual repair op,
    // is the only thing that clears crashed stagings). The same hazard
    // shape guards wap-* dirs: an in-flight stageWap also holds only
    // _temporary, so a wap dir is only swept once PUBLISHED (its tombstone
    // names it; no write can be in flight after publish) and emptied by
    // the deletes above — a tombstone whose every dir is gone retires too.
    val sdir = new Path(s"$path/_staged")
    val published: Seq[(String, Seq[String])] =
      if (!fs.exists(sdir)) Seq.empty
      else fs.listStatus(sdir).toSeq.map(_.getPath.getName).collect {
        case n if n.startsWith("s-") && n.endsWith(".published") =>
          val id = n.stripPrefix("s-").stripSuffix(".published")
          (id, readLines(wapPublishedPath(id)).filter(_.nonEmpty))
      }
    val publishedDirs: Set[String] = published.flatMap(_._2).toSet
    val dataRoot = new Path(s"$path/data")
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { st =>
        val n = st.getPath.getName
        val wapOk = !n.startsWith("wap-") || publishedDirs(n)
        if (st.isDirectory && !n.startsWith(".staging-") && wapOk &&
          fs.listStatus(st.getPath).forall(
            _.getPath.getName.startsWith("_"))) fs.delete(st.getPath, true)
      }
    published.foreach { case (id, dirs) =>
      if (dirs.forall(d => !fs.exists(new Path(s"$path/data/$d"))))
        fs.delete(wapPublishedPath(id), false)
    }
    dead.size
  }

  /** Startup repair (the [[GridStore.recover]] discipline): re-point to the
    * newest complete manifest if the pointer is missing or stale, and clear
    * any manifest/batch newer than the pointer (a commit that died before
    * its pointer swap — never acknowledged, so its data must not resurrect).
    * Idempotent; no-op on a healthy store.
    */
  def recover(): Unit = {
    val vs = versions
    val nowMs = System.currentTimeMillis()
    def oldEnough(p: Path): Boolean = !fs.exists(p) ||
      nowMs - fs.getFileStatus(p).getModificationTime >= SnapshotStore.DebrisGraceMs
    if (vs.isEmpty) { fs.delete(pointerFile, false); () }
    else {
      val ptr = latestVersion
      val target = ptr.getOrElse(vs.max)
      if (ptr.isEmpty) writeAtomic(pointerFile, target.toString, overwrite = true)
      // Unacknowledged commits roll back only once they have AGED past the
      // grace window: a younger one may be a live writer in another JVM
      // between its manifest claim and pointer swap, and deleting it here
      // would silently destroy a commit that is about to acknowledge.
      // recover() stays idempotent — re-run after the window to finish.
      vs.filter(_ > target)
        .filter(w => oldEnough(manifestPath(w)))
        .foreach { w =>
          fs.delete(manifestPath(w), false)
          fs.delete(batchDir(w), true)
        }
    }
    // Batch dirs beyond every manifest (data written, manifest never
    // renamed in) are unreachable debris; so are staging dirs from commits
    // that died before their metadata section. Both cleanups respect the
    // debris grace window: a dir younger than it may belong to a LIVE
    // writer in another JVM (staging runs outside any lock; the metadata
    // window is unsynchronized cross-JVM), so recover() skips it — the
    // call is idempotent, a later run clears it once it has aged.
    val dataRoot = new Path(s"$path/data")
    val known = versions.toSet
    val now = System.currentTimeMillis()
    def aged(p: Path): Boolean =
      now - fs.getFileStatus(p).getModificationTime >= SnapshotStore.DebrisGraceMs
    val ackd = latestVersion // one pointer read, not one per directory entry
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".staging-")) {
          if (aged(st.getPath)) fs.delete(st.getPath, true)
        } else if (n.startsWith("b") && n.drop(1).forall(_.isDigit) &&
          !known.contains(n.drop(1).toLong) &&
          ackd.forall(n.drop(1).toLong > _) &&
          aged(st.getPath))
          fs.delete(st.getPath, true)
      }
    // metadata debris in _manifests: group files referenced by no
    // surviving manifest (a commit that died between its group writes and
    // the manifest claim, or a rolled-back manifest above) and orphaned
    // `.tmp-*` staging files from a file:// claim that died before its
    // createLink — same age gate as every cleanup
    val mdir = new Path(s"$path/_manifests")
    if (fs.exists(mdir)) {
      val refs: Set[String] =
        versions.toSet.flatMap((v: Long) => listInfoOf(v).refs.map(_.name))
      fs.listStatus(mdir).foreach { st =>
        val n = st.getPath.getName
        // bloom sidecars are keyed to their group's fate
        val base = if (n.endsWith(".group.bloom")) n.stripSuffix(".bloom") else n
        val orphanGroup = n.startsWith("g-") && base.endsWith(".group") &&
          !refs(base)
        val claimTmp = n.contains(".tmp-")
        if ((orphanGroup || claimTmp) && aged(st.getPath))
          fs.delete(st.getPath, false)
      }
    }
    // delete vectors no surviving manifest references (a delete commit
    // that died between its vector write and the manifest claim) age out
    // like every metadata debris
    val dvRoot = new Path(s"$path/_dv")
    if (fs.exists(dvRoot)) {
      val liveDv: Set[String] =
        versions.toSet.flatMap((v: Long) => readManifest(v).flatMap(_.dv))
      fs.listStatus(dvRoot).foreach { st =>
        if (!liveDv(st.getPath.getName) && aged(st.getPath))
          fs.delete(st.getPath, true)
      }
    }
    // WAP hygiene: (a) finish a publish that crashed between its pointer
    // swap and the staged-list retirement (the tag proves acknowledgement);
    // (b) drop tombstones whose data dirs are all gone (expired); (c) age
    // out wap data dirs no staged list and no tombstone names — a stage
    // that died before its list write, or the loser of a racing duplicate
    // stage. A staged list protects its dirs INDEFINITELY: an audit may
    // take arbitrarily long, and [[discardWap]] is the explicit release.
    val sdir = new Path(s"$path/_staged")
    val stagedIds: Seq[String] =
      if (!fs.exists(sdir)) Seq.empty
      else fs.listStatus(sdir).toSeq.map(_.getPath.getName).collect {
        case n if n.startsWith("s-") && n.endsWith(".list") =>
          n.stripPrefix("s-").stripSuffix(".list")
        case n if n.startsWith("s-") && n.endsWith(".published") =>
          n.stripPrefix("s-").stripSuffix(".published")
      }.distinct
    stagedIds.foreach { id =>
      if (fs.exists(wapListPath(id)) && taggedVersion(wapTag(id)).nonEmpty)
        finishWapPublish(id)
      if (!fs.exists(wapListPath(id)) && fs.exists(wapPublishedPath(id)) &&
        wapDirsOf(id).forall(!fs.exists(_)))
        fs.delete(wapPublishedPath(id), false)
    }
    // staged bloom sidecars orphaned by a crashed finish/discard (their
    // list is gone) age out like every metadata debris
    if (fs.exists(sdir))
      fs.listStatus(sdir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("s-") && n.endsWith(".bloom")) {
          val id = n.stripPrefix("s-").stripSuffix(".bloom")
          if (!fs.exists(wapListPath(id)) && aged(st.getPath))
            fs.delete(st.getPath, false)
        }
      }
    val wapProtected: Set[String] =
      stagedIds.flatMap(id => wapDirsOf(id).map(_.getName)).toSet
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("wap-") && !wapProtected(n) && aged(st.getPath))
          fs.delete(st.getPath, true)
      }
  }
}

object SnapshotStore {
  /** Hash count for the per-file bloom sidecars — 7 probes ≈ the optimum
    * at 10 bits/key; recorded in each sidecar's `#hashes=` header so a
    * future change cannot mis-probe old sketches.
    */
  val BloomHashes = 7

  /** Design-point bit density of the 10-bits/key sizing formula with
    * [[BloomHashes]] probes: 1 − e^(−0.7) ≈ 0.50 (FPP ≈ 0.5^7 ≈ 0.8%).
    * The group-sketch fold-down keeps halving while the folded sketch
    * stays at or below it.
    */
  val BloomFoldDensity = 0.5

  /** Fold a power-of-two bloom sketch down to the width its MEASURED
    * key cardinality needs (r18): sizing by total rows is only right
    * when the bloom key is unique per row; repeated keys leave a
    * near-empty sketch whose bytes every commit writes and every probe
    * read parses. Folding is EXACT, not approximate: probe positions
    * are `pos & (width−1)` with a width-independent step
    * ([[graft.functions.BloomSketch.set]]), so OR-ing the two halves of
    * a width-m sketch is bit-identical to having built it at m/2 —
    * BloomFoldSpec pins that. No false negatives by construction; FPP
    * follows the folded density, which the loop keeps at or below the
    * design point. Serialization is big-endian longs laid out in word
    * order, so the upper half's bytes align 1:1 with the lower half's.
    * Floor: 2^10 bits, the sizing formula's own minimum.
    */
  private[graft] def foldSketch(b: Array[Byte]): Array[Byte] = {
    val MinBytes = 128 // 2^10 bits
    def density(a: Array[Byte]): Double = {
      var set = 0L
      var i = 0
      while (i < a.length) {
        set += java.lang.Integer.bitCount(a(i) & 0xff); i += 1
      }
      set.toDouble / (a.length.toLong * 8L)
    }
    var cur = b
    var done = false
    while (!done && cur.length > MinBytes &&
        (cur.length & (cur.length - 1)) == 0) {
      val half = new Array[Byte](cur.length / 2)
      var i = 0
      while (i < half.length) {
        half(i) = (cur(i) | cur(i + half.length)).toByte; i += 1
      }
      if (density(half) <= BloomFoldDensity) cur = half else done = true
    }
    cur
  }

  // xxhash64()'s default seed (the XxHash64 expression's); commit-side
  // sketches fold xxhash64(col), so probes must hash under the same seed
  private val HashSeed = 42L

  /** xxhash64 of one probe literal under the column's PHYSICAL type,
    * computed driver-locally through Spark's own
    * `catalyst.expressions.XXH64` — the class whole-stage codegen emits
    * calls to, so it is public bytecode and bit-identical to the
    * `xxhash64()` column function the commit-side sketches used (pinned
    * per type in PushdownSpec). None whenever the literal does not
    * convert SOUNDLY to the column type — the caller's conservative keep.
    *
    * Soundness rule: a hash may only be produced when every row the
    * COERCED predicate (Spark compares mixed types numerically) could
    * match carries exactly this native value. Integrals convert
    * range-checked; a fractional or out-of-unique-range literal against
    * an integral column yields None; a numeric literal against a STRING
    * column yields None (string-vs-numeric comparisons coerce numerically,
    * so "042" matches 42 but hashes differently — the r14 advice finding);
    * timestamps/dates hash only from typed literals (string forms are
    * session-zone-dependent).
    */
  private[graft] def probeHash(v: Any, t: org.apache.spark.sql.types.DataType)
      : Option[Long] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    t match {
      case LongType => asLongExact(v).map(XXH64.hashLong(_, HashSeed))
      case IntegerType => asLongExact(v)
        .filter(l => l >= Int.MinValue && l <= Int.MaxValue)
        .map(l => XXH64.hashInt(l.toInt, HashSeed))
      case ShortType => asLongExact(v)
        .filter(l => l >= Short.MinValue && l <= Short.MaxValue)
        .map(l => XXH64.hashInt(l.toInt, HashSeed))
      case ByteType => asLongExact(v)
        .filter(l => l >= Byte.MinValue && l <= Byte.MaxValue)
        .map(l => XXH64.hashInt(l.toInt, HashSeed))
      case StringType => v match {
        case s: String => Some(XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), HashSeed))
        case _ => None
      }
      case DoubleType => asDoubleExact(v).map { d0 =>
        // the hash expression normalizes -0.0 to 0.0 (they compare equal)
        val d = if (d0 == 0.0d) 0.0d else d0
        XXH64.hashLong(java.lang.Double.doubleToLongBits(d), HashSeed)
      }
      case FloatType => asDoubleExact(v).flatMap { d =>
        val f0 = d.toFloat
        // only when the literal is exactly a float value: the coerced
        // (double-widened) predicate then matches exactly rows == f0
        if (f0.toDouble == d && !f0.isNaN) {
          val f = if (f0 == 0.0f) 0.0f else f0
          Some(XXH64.hashInt(java.lang.Float.floatToIntBits(f), HashSeed))
        } else None
      }
      case TimestampType => (v match {
        case ts: java.sql.Timestamp => Some(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts))
        case i: java.time.Instant => Some(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
        case _ => None
      }).map(XXH64.hashLong(_, HashSeed))
      case DateType => (v match {
        case d: java.sql.Date => Some(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
        case d: java.time.LocalDate => Some(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d))
        case _ => None
      }).map(XXH64.hashInt(_, HashSeed))
      case _ => None
    }
  }

  /** The literal as the UNIQUE long every coerced-match row must carry:
    * integral types pass through; an integral-valued float/double inside
    * the ±2^53 band (where long→double is injective over the match set)
    * converts; fractional or oversized numerics yield None; strings parse
    * STRICTLY integral (ANSI try_cast discipline — "42.0" must not hash,
    * the coerced predicate matches rows a lossy parse would skip).
    */
  private def asLongExact(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 9007199254740992.0d) {
        val l = d.toLong
        if (l.toDouble == d) Some(l) else None
      } else None
    case f: Float => asLongExact(f.toDouble)
    case s: String => s.trim.toLongOption
    case _ => None
  }

  /** The literal as the double the coerced predicate compares against —
    * double-vs-anything comparisons widen BOTH sides to double, so a
    * lossy long→double round is exactly what the predicate itself does.
    */
  private def asDoubleExact(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case s: String => s.trim.toDoubleOption
    case _ => None
  }

  /** Default per-file visible-hit fraction at or below which
    * [[SnapshotStore.deleteWhere]]/[[SnapshotStore.merge]] MASK rows with
    * a delete vector instead of rewriting the file. 0.0 forces
    * copy-on-write everywhere; 1.0 forces merge-on-read. The default
    * trades read-side anti-join work (bounded: ≤20% masked rows per
    * file between compactions) against write amplification (a scattered
    * one-row-per-file takedown stops rewriting the table).
    */
  val DvAutoFraction = 0.2

  /** Resident sidecar cap for the per-store bloom LRU — at the 128 KiB
    * per-file ceiling and compaction-bounded group sizes this is a few
    * hundred MB worst-case, and the access-ordered eviction keeps the
    * serving working set below it in practice.
    */
  private[store] val BloomCacheCap = 256

  /** Largest delta (rows) whose keys a [[SnapshotStore.merge]] will
    * collect for bloom-narrowing its hit-detection scan — a bounded
    * driver artifact (ids, not rows), the IVF-centroid discipline.
    * Bigger deltas fall back to zone candidates alone.
    */
  val MergeProbeCap = 10000L

  /** Widest IN literal list the pushdown planner probes key-by-key
    * (zones + blooms per file per key); above it the IN collapses to
    * its range conjunct at plan time — the same bounded-driver-work
    * discipline as [[MergeProbeCap]], applied to arbitrary predicates
    * ([[SnapshotStore.deleteWhere]]'s takedown shape included).
    */
  val InProbeCap = 10000

  /** Order-preserving numeric projection of a string — the first 6 UTF-8
    * bytes as a big-endian integer, short strings right-padded with 0x00
    * (so `v` is monotone under byte-lexicographic order: a <= b implies
    * v(a) <= v(b); 48 bits, exact in a Double). This is Iceberg's
    * truncated-string-bounds idea encoded into the manifest's EXISTING
    * numeric zone slots (r17): [[SnapshotStore]] records string stats
    * columns' per-file min/max through this projection, and the planner
    * compares string-key ranges on the same scale — so a clustered
    * document-id takedown prunes through zones exactly like a numeric
    * one, with no per-key cost and no bloom FPP compounding (probing
    * 10^5 keys against ~1%-FPP blooms false-keeps everything; zones
    * don't care how many keys the range summarizes). Collisions (shared
    * 6-byte prefix) only WIDEN bounds — never unsound.
    */
  def strOrd(s: String): Double = strOrdWord(s, 0)

  /** Words of the projection beyond the first: word `w` covers UTF-8
    * bytes [6w, 6w+6). One word cannot discriminate ids sharing a long
    * constant prefix ("doc-000000000017" — everything interesting is
    * past byte 6), so string stats columns record [[StrWords]] words —
    * word 1 in the column's own zone slot, words 2..k in derived
    * `col#s<w>` slots — and the planner compares bounds as
    * LEXICOGRAPHIC word tuples ([[lexLE]]): a 24-byte sound prefix
    * bound, the practical reach of Iceberg's truncate(16) with doubles
    * as the storage cell.
    */
  def strOrdWord(s: String, word: Int): Double = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val off = 6 * word
    var v = 0L
    var i = 0
    while (i < 6) {
      v = (v << 8) | (if (off + i < b.length) b(off + i) & 0xffL else 0L)
      i += 1
    }
    v.toDouble
  }

  /** Words per string stats column (24-byte prefix). */
  val StrWords = 4

  /** Derived zone-slot names for the extra words of string column `c`. */
  def strWordNames(c: String): Seq[String] =
    (2 to StrWords).map(w => s"$c#s$w")

  /** a <= b over the word prefix BOTH tuples know (NaN/missing truncates
    * — comparing a prefix of the projection is itself a monotone coarser
    * projection, so a prefix verdict stays sound; ties on the known
    * prefix cannot disprove and keep).
    */
  def lexLE(a: Seq[Double], b: Seq[Double]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (a(i).isNaN || b(i).isNaN) return true
      if (a(i) < b(i)) return true
      if (a(i) > b(i)) return false
      i += 1
    }
    true
  }

  /** Global per-plan budget of per-FILE wide-IN bloom probes (unit: one
    * key hash tested against one file's bitset, early-exit counted at
    * full width). Group-level union probes are uncapped — O(keys ×
    * groups) is the intended flat envelope; this bounds only the
    * refinement inside groups the union bloom could not clear, so a
    * 10^5-key × 10^5-file takedown can never melt the driver at plan
    * time. Past the budget files keep conservatively.
    */
  val WideProbeBudget = 1L << 26

  /** Largest TOTAL masked-row count (summed over the delete vectors a
    * read references) that [[SnapshotStore]] reads anti-join as a
    * BROADCAST. ~16 bytes/row puts the default (~64M rows) around 1 GB
    * on the wire — safely under Spark's 8 GB broadcast hard cap with
    * headroom for executor memory. Above it the anti-join runs unhinted
    * (a shuffling sort-merge: degraded, never dead) and the store wants
    * [[SnapshotStore.foldDv]]/`maintainDv` run.
    */
  val DvBroadcastMaxRows = 64L * 1024 * 1024

  /** The atomic-exclusive metadata-claim primitive — the ONE
    * filesystem-specific operation in the commit protocol
    * (docs/OBJECT-STORES.md). `claim(dst, bytes)` must materialize `dst`
    * with exactly `bytes` iff nothing exists at `dst`, such that of N
    * simultaneous claimants exactly one succeeds and every loser throws
    * `ConcurrentModificationException` — the semantics of S3 conditional
    * PUT (`If-None-Match: *`), a ZooKeeper/etcd lease, or a catalog row's
    * transactional insert. When no arbiter is injected the store uses the
    * filesystem's own primitive (HDFS rename-without-overwrite; link(2)
    * create-exclusive on file://). Claimed objects are immutable: the
    * store never re-claims or mutates an existing name through this seam
    * (releases of a FAILED own claim go through plain delete, which every
    * store has). Readers read claimed objects through the ordinary
    * FileSystem, so an arbiter must write THROUGH to the same storage.
    */
  trait ClaimArbiter {
    def claim(dst: Path, content: Array[Byte]): Unit
  }

  // Per-store commit serialization within one JVM (local[n] is one JVM;
  // on a cluster each pipeline's driver is its own JVM and the manifest
  // rename-WITHOUT-overwrite is the cross-JVM atomic claim on HDFS-class
  // filesystems). Keyed by the qualified store path.
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[store] def lockFor(qualifiedPath: String): Object =
    locks.computeIfAbsent(qualifiedPath, _ => new Object)

  /** Age below which unacknowledged commit artifacts (a manifest or batch
    * dir above the pointer, a staging dir) are presumed to belong to a
    * LIVE writer in another JVM rather than a crashed one: cleanup paths
    * refuse (doCommit) or skip (recover) them, because the cross-JVM
    * metadata window is unsynchronized and deleting a live competitor's
    * claim would silently destroy its commit. A real crash ages past the
    * window and clears on the next commit/recover. Generous relative to
    * the metadata section's milliseconds; small next to any cron cadence.
    */
  private[store] val DebrisGraceMs: Long = 60000L
}
