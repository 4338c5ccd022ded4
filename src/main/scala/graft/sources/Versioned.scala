package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** One line of a versioned-table manifest: an immutable directory that
  * is either DATA or a TOMBSTONE set (`tombstone = true` — a deletion
  * vector of `(file_path, row_index)` pairs that reads subtract from the
  * snapshot; see `Versioned.deleteWhereMor`). Data directories may be
  * tagged with the SET of partition values their rows are known to be
  * confined to. Tags are what make copy-on-write cheap: a writer that
  * touches partitions {p} can carry every directory whose tag is
  * disjoint from {p} forward BY REFERENCE — zero bytes rewritten — and
  * only rewrite the intersecting ones. Untagged (`parts = None`)
  * directories make no confinement claim and are treated as potentially
  * intersecting everything (always safe, never fast). */
final case class ManifestEntry(path: String, parts: Option[Set[String]],
    tombstone: Boolean = false)

/** A write was rejected because staged rows violate a table CHECK
  * constraint ([[Versioned.addConstraint]]). The commit published
  * nothing; the staged directory is unreferenced vacuumable garbage. */
final class ConstraintViolation(msg: String) extends RuntimeException(msg)

/** A write was rejected by the table's STRICT schema policy
  * ([[Versioned.setSchemaPolicy]]): the batch carries a column the
  * snapshot does not have, or changes an existing column's type. The
  * commit published nothing. */
final class SchemaPolicyViolation(msg: String) extends RuntimeException(msg)

/** Versioned parquet tables: an atomic-manifest snapshot protocol (the
  * public Delta/Iceberg commit shape, reduced to its load-bearing core) —
  * the piece that turns SURVEY §2.9's "transactions are a no-op under the
  * recompute model" into a real capability: writers never mutate what
  * readers see mid-flight, every commit is all-or-nothing, and any past
  * snapshot stays readable until vacuumed.
  *
  * Layout under `basePath`:
  * {{{
  *   data-<uuid>/part-*.parquet     immutable staged data directories
  *   data-<uuid>/_graft_zonemap/    optional per-file min/max sidecar
  *                                  (underscore-invisible to plain reads)
  *   _manifests/v<N>                one line per data directory in
  *                                  snapshot N, `#key=value` meta first
  *   _manifests/.tmp-<uuid>         in-flight manifest (invisible: readers
  *                                  only follow v<N> names)
  * }}}
  *
  * The commit protocol: (1) stage the batch into a fresh `data-<uuid>`
  * directory — readers never list data dirs, so half-written files are
  * unreachable, not just unlikely; (2) write the new entry list to a `.tmp`
  * manifest; (3) RENAME it to `v<N+1>` — the one atomic step. A crash
  * before (3) leaves only unreferenced garbage (cleaned by [[vacuum]]);
  * after (3) the commit is complete. Concurrent writers: the rename-if-
  * absent is a compare-and-swap on HDFS (rename fails when the target
  * exists), and a loser RE-DERIVES its manifest against the new head
  * before retrying — an append folds the winner's files in rather than
  * clobbering them, and the copy-on-write ops (delete/update/compact)
  * abort with ConcurrentModificationException because their rewrite was
  * derived from a snapshot that is no longer current. On a raw local FS
  * or an object store the rename can clobber, so multi-writer
  * deployments put step (3) behind a conditional put / lock service
  * exactly as the public lakehouse formats do — the on-disk protocol is
  * unchanged.
  *
  * Snapshot isolation falls out of immutability: data directories are
  * never rewritten (append commits add NEW dirs; overwrite commits just
  * reference fewer), so a reader that resolved version N keeps reading
  * exactly N's files however many commits land after it.
  *
  * COPY-ON-WRITE IS FILE-LEVEL (since r9): [[deleteWhere]] /
  * [[updateWhere]] first discover which data directories actually CONTAIN
  * matching rows (one column-pruned scan of the predicate columns plus
  * the `_metadata.file_path` virtual column — no data rewrite), rewrite
  * only those, and carry every untouched directory forward by reference
  * in the new manifest. A selective DELETE on a 100 TB table costs the
  * touched directories, not the table. [[compactLatest]] takes a
  * smallness threshold for the same reason: fold the accreted small
  * directories, carry the big ones.
  *
  * MERGE-ON-READ (since r9): [[deleteWhereMor]] / [[updateWhereMor]]
  * write deletion VECTORS (position tombstones) instead of rewriting
  * anything — the trickle-delete tier whose write cost is the matches
  * themselves; reads subtract outstanding vectors, every rewrite path
  * applies them before re-staging, and [[compactLatest]] materializes
  * them away. [[mergeInto]] is the transactional upsert;
  * [[changes]] the net row-level feed between snapshots; [[history]] /
  * [[readAsOf]] the commit log and timestamp time travel;
  * [[cloneTable]] the zero-copy shallow fork (verbatim references +
  * inherited ledger). Data skipping: [[readWhere]] distills one filter
  * predicate into zone-map ranges and per-file bloom equality probes,
  * prunes the file listing with both, and re-applies the predicate —
  * fail-open, and surviving DML rewrites. CHECK
  * constraints ([[addConstraint]]) and the schema policy
  * ([[setSchemaPolicy]] — strict vs evolve) are protocol-carried
  * metadata enforced on every data-adding write at the staging door.
  *
  * THE APPLIED-BATCH LEDGER: every manifest's metadata carries forward
  * the (bounded, most-recent-first-out) list of ingested batch ids under
  * `#applied=` — maintained by the protocol itself on every commit, so
  * the exactly-once replay guard ([[appendOnce]],
  * [[Incremental.upsertRollup]]) is ONE head-manifest read regardless of
  * retained-history depth, and it survives [[vacuum]] (the guard's
  * horizon is the ledger cap of [[AppliedCap]] most recent batch ids,
  * not the manifest retention window).
  */
object Versioned {

  /** Replay-guard horizon: the ledger keeps this many most-recent batch
    * ids. A batch redelivered more than `AppliedCap` ingested batches
    * later re-applies — size redelivery windows (stream checkpoint lag,
    * at-least-once queue retention) under this, the same bounded-txn-id
    * trade the public lakehouse formats document. */
  val AppliedCap = 512

  private val AppliedKey = "applied"
  private val ConstraintsKey = "constraints"
  private val PolicyKey = "schema_policy"

  /** The ONE primitive the commit protocol needs from its storage:
    * atomically make `tmp` visible as `target` IFF `target` does not
    * already exist, returning whether this writer won. HDFS-class
    * filesystems provide it as rename-if-absent (the default below);
    * S3-class object stores do not — multi-PROCESS deployments there
    * plug a conditional-put / lock-service implementation through
    * [[withCommitStore]], exactly the seam the public lakehouse formats
    * expose (Delta's LogStore, Iceberg's lock manager). Everything else
    * in the protocol — staging, manifests, the CAS retry loop — is
    * store-agnostic. Implementations must be linearizable per target:
    * at most one caller may ever win a given `target`. */
  trait CommitStore {
    def putIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean
  }

  /** Default store: atomic publish-if-absent.
    *
    * On HDFS, `FileSystem.rename` already has the contract (returns
    * false when the target exists, atomically). On LOCAL filesystems it
    * does NOT: Hadoop's RawLocalFileSystem rename bottoms out in POSIX
    * rename(2), which silently REPLACES an existing target — two
    * publishers racing the same version number could both "win", the
    * second clobbering the first's manifest. That is a real lost
    * update, observed as the long-standing "bootstrap commits are
    * CAS-pinned" flake (r16 VERDICT item 1; reproduced locally ~1-in-3
    * full-suite runs once the suites ran with real concurrency): two
    * threads racing the FIRST upsert of an empty rollup both renamed
    * v1, the loser's batch vanished, and both callers believed they
    * committed. Local paths therefore publish via link(2) —
    * `Files.createLink` fails with EEXIST atomically when the target
    * exists — and the tmp file (plus its checksum sidecar) is removed
    * through the Hadoop fs afterwards. */
  object RenameCommitStore extends CommitStore {
    def putIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean =
      if (f.getUri.getScheme == "file") {
        val linked =
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(target.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        if (linked) f.delete(tmp, false) // target holds the data (hard link)
        linked
      } else f.rename(tmp, target)
  }

  @volatile private var commitStore: CommitStore = RenameCommitStore

  /** Run `body` with every manifest publication in this JVM going
    * through `store` (restored after) — the injection point for
    * object-store conditional-put shims and for fault-injection tests.
    * JVM-global: the protocol's multi-writer story is per-store, not
    * per-table. */
  def withCommitStore[A](store: CommitStore)(body: => A): A = {
    val prev = commitStore
    commitStore = store
    try body finally commitStore = prev
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    FsUtil.fs(spark, p)

  private def manifestDir(basePath: String) = new Path(basePath, "_manifests")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** All committed versions, ascending: one `_manifests` listing. */
  def versions(spark: SparkSession, basePath: String): Seq[Long] = {
    val dir = manifestDir(basePath)
    val listed =
      try fs(spark, dir).listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
  }

  /** One committed snapshot: its version, manifest entries and
    * `#key=value` commit metadata, parsed from ONE read of manifest
    * `v<version>`; version 0 is an uninitialized table.
    *
    * ONE OP, ONE BASE VERSION: an op opens the head once ([[snapshot]]:
    * one `_manifests` listing, one manifest open) and takes every view
    * it needs from this value, so it never mixes two heads and pays the
    * head's round trips once, not once per view. It hands the value to
    * staging and to [[publish]], whose FIRST CAS attempt reuses a
    * committed snapshot without a re-read: versions are dense, [[vacuum]]
    * drops only a prefix of them (while `v<version>` exists, no later
    * manifest was dropped), and the [[CommitStore]] is linearizable per
    * target — so winning `v<version+1>` proves this snapshot was still
    * the head. An uninitialized snapshot has no manifest to vouch for it
    * and is read again; so is the head after every lost attempt. */
  final case class Snapshot(version: Long, entries: Seq[ManifestEntry],
      meta: Map[String, String]) {
    def dataEntries: Seq[ManifestEntry] = entries.filterNot(_.tombstone)
    def dataPaths: Seq[String] = dataEntries.map(_.path)
    /** The deletion-vector directories. */
    def delPaths: Seq[String] = entries.filter(_.tombstone).map(_.path)
    /** The applied-batch ledger (`#applied=`), oldest → newest. */
    def ledger: Seq[String] = meta.get(AppliedKey).iterator
      .flatMap(_.split(',')).filter(_.nonEmpty).map(dec).toSeq
    def constraints: Map[String, String] =
      meta.get(ConstraintsKey).map(decodeConstraints).getOrElse(Map.empty)
    def schemaPolicy: String = meta.getOrElse(PolicyKey, "evolve")
    /** The protocol-stamped commit time (`#ts`, written by every
      * [[publish]]). */
    def ts: Long = meta("ts").toLong
  }

  private val Uninitialized = Snapshot(0L, Seq.empty, Map.empty)

  /** The head snapshot ([[Snapshot]]; version 0 when uninitialized). */
  private[sources] def snapshot(spark: SparkSession,
      basePath: String): Snapshot =
    versions(spark, basePath).lastOption
      .fold(Uninitialized)(snapshotAt(spark, basePath, _))

  /** The head snapshot of a table that must have a committed version. */
  private def committedHead(spark: SparkSession, basePath: String): Snapshot = {
    val s = snapshot(spark, basePath)
    require(s.version > 0, s"no committed versions under $basePath")
    s
  }

  /** Snapshot `v`: one manifest open, parsed once into entries and
    * metadata. */
  private def snapshotAt(spark: SparkSession, basePath: String,
      v: Long): Snapshot = {
    val (meta, ents) = manifestLines(spark, basePath, v)
      .partition(_.startsWith("#"))
    Snapshot(v, ents.map(decodeEntry), meta.flatMap { l =>
      l.drop(1).split("=", 2) match {
        case Array(k, value) => Some(k -> value)
        case _ => None
      }
    }.toMap)
  }

  /** Manifest framing: every manifest opens with `#graft=2` and closes
    * with `#eof=<line count between them>`, both stripped before
    * parsing. The frame turns a TORN manifest — a store whose "rename"
    * is a non-atomic copy (the S3A class) exposing a half-copied target
    * after a writer crash — into a loud contract error instead of a
    * silently shorter file list. ANY file without both the header and a
    * trailer agreeing with the line count is torn: a truncated tail
    * loses the trailer, and a tear inside the header line (`#graf`)
    * loses the header, so no prefix of a published manifest parses as
    * a snapshot. The repair is manual by design — delete the torn head
    * file and re-publish — because the reader cannot distinguish a
    * crashed writer from a SLOW one mid-copy, so auto-ignoring (or
    * auto-deleting) the torn head could drop a commit that was about to
    * complete. Stores honoring the
    * [[CommitStore]] visibility contract never produce this state. */
  private val ManifestHeader = "#graft=2"

  private def manifestLines(spark: SparkSession, basePath: String,
      v: Long): Seq[String] = {
    val p = new Path(manifestDir(basePath), s"v$v")
    val in =
      try fs(spark, p).open(p)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"version $v does not exist under $basePath")
      }
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    val body = lines.drop(1)
    val complete = lines.headOption.contains(ManifestHeader) &&
      body.lastOption.exists { l =>
        l.startsWith("#eof=") &&
          scala.util.Try(l.drop("#eof=".length).toInt).toOption
            .contains(body.size - 1)
      }
    if (!complete) throw new IllegalStateException(
      s"torn manifest v$v under $basePath: the #graft header or the #eof " +
        "trailer is missing, or the trailer disagrees with the line count. " +
        "This means the commit store exposed a partially-copied manifest " +
        "(a non-atomic rename — the CommitStore contract requires " +
        "all-or-nothing target visibility). If the writing process is " +
        s"known dead, repair by deleting $p and re-publishing; do not " +
        "delete it while a writer may still be mid-copy.")
    body.dropRight(1)
  }

  /** `path` alone for an untagged data directory (always-intersecting,
    * so always correct), `path<TAB>parts=<url-enc>,<url-enc>` for a
    * partition-confined one, or `path<TAB>del` for a deletion-vector
    * directory. */
  private def encodeEntry(e: ManifestEntry): String =
    if (e.tombstone) {
      require(e.parts.isEmpty, "a tombstone entry cannot carry a parts tag")
      e.path + "\tdel"
    } else e.parts match {
      case None => e.path
      case Some(ps) =>
        require(ps.nonEmpty, "a tagged manifest entry needs >= 1 partition value")
        // an empty-string VALUE would vanish in the round-trip (enc("")
        // encodes to nothing, the decoder drops empty tokens) and the
        // dir would falsely claim disjointness — callers sentinel it
        // (Incremental.partTag)
        require(ps.forall(_.nonEmpty),
          "partition tag values must be non-empty — sentinel empty strings")
        e.path + "\tparts=" + ps.toSeq.sorted.map(enc).mkString(",")
    }

  private def decodeEntry(l: String): ManifestEntry = l.split('\t') match {
    case Array(p) => ManifestEntry(p, None)
    case Array(p, "del") => ManifestEntry(p, None, tombstone = true)
    case Array(p, tag) if tag.startsWith("parts=") =>
      ManifestEntry(p,
        Some(tag.drop("parts=".length).split(',').iterator
          .filter(_.nonEmpty).map(dec).toSet))
    case _ => throw new IllegalArgumentException(
      s"unparseable manifest line: $l")
  }

  /** The manifest entries of snapshot `v` (paths + partition tags). */
  def entries(spark: SparkSession, basePath: String,
      v: Long): Seq[ManifestEntry] = snapshotAt(spark, basePath, v).entries

  /** Every referenced directory path of snapshot `v` (data AND
    * tombstone directories — vacuum's reachability set). */
  def manifestFiles(spark: SparkSession, basePath: String,
      v: Long): Seq[String] =
    entries(spark, basePath, v).map(_.path)

  /** Every deletion-vector directory holds exactly these two columns
    * (the `_metadata` identity pair [[deleteWhereMor]] and
    * [[updateWhereMor]] stage). */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file_path STRING, row_index BIGINT")

  /** Deletion-vector directories read with their fixed schema: a bare
    * `spark.read.parquet` launches a schema-inference job per call to
    * re-derive what the protocol already fixes. */
  private[sources] def readDv(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(paths: _*)

  /** Subtract the snapshot's deletion vectors from a RAW parquet read of
    * its data directories (`df` must come straight from `spark.read` so
    * the `_metadata` virtual columns resolve). Tombstones are
    * `(file_path, row_index)` pairs — position deletes, the public
    * Iceberg-v2/Delta-DV shape; a pair referencing a file absent from
    * `df` simply matches nothing, so stale vectors dangle harmlessly
    * after a rewrite materializes them. `keepMeta` leaves the `__fp` /
    * `__ri` identity columns attached for callers that need them. */
  private[sources] def applyDels(spark: SparkSession, df: DataFrame,
      dels: Seq[String], keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (dels.isEmpty) {
      if (keepMeta) df.select(col("*"),
        col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__ri"))
      else df
    } else {
      val dv = readDv(spark, dels)
        .select(col("file_path").as("__fp"), col("row_index").as("__ri"))
      val w = df.select(col("*"),
          col("_metadata.file_path").as("__fp"),
          col("_metadata.row_index").as("__ri"))
        .join(dv, Seq("__fp", "__ri"), "left_anti")
      if (keepMeta) w else w.drop("__fp", "__ri")
    }
  }

  /** Commit metadata (`#key=value` manifest lines) — rides in the SAME
    * atomic rename as the file list, so "this batch was ingested" and
    * "this batch's data is visible" are one indivisible fact: the replay
    * guard incremental consumers need for batch-level exactly-once. */
  def commitMeta(spark: SparkSession, basePath: String,
      v: Long): Map[String, String] = snapshotAt(spark, basePath, v).meta

  /** The applied-batch-id ledger: ONE head-manifest read (the head's
    * `#applied=` line, maintained by every commit). Ordered
    * oldest→newest, capped at [[AppliedCap]]. */
  def appliedBatchIds(spark: SparkSession, basePath: String): Seq[String] =
    snapshot(spark, basePath).ledger

  private def encodeConstraints(cs: Map[String, String]): String =
    cs.toSeq.sortBy(_._1).map { case (n, e) => n + ":" + enc(e) }
      .mkString(",")

  private def decodeConstraints(s: String): Map[String, String] =
    s.split(',').iterator.filter(_.nonEmpty).map { tok =>
      tok.split(":", 2) match {
        case Array(n, e) => n -> dec(e)
        case _ => throw new IllegalArgumentException(
          s"unparseable constraint token: $tok")
      }
    }.toMap

  /** The table's CHECK constraints: `name -> SQL boolean expression`,
    * carried forward by every commit (protocol metadata, like the
    * ledger) and enforced on every data-adding write. */
  def constraints(spark: SparkSession, basePath: String): Map[String, String] =
    snapshot(spark, basePath).constraints

  /** The rows of `df` that VIOLATE any of `cs` — standard SQL CHECK
    * semantics: a row violates only when the expression is FALSE
    * (UNKNOWN/null passes). Columns a constraint references that are
    * absent from `df` read as null — exactly what a snapshot read would
    * materialize for them — so a `c IS NOT NULL` constraint correctly
    * rejects a batch that omits `c`. */
  private def violations(df: DataFrame, cs: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val exprs = cs.toSeq.sortBy(_._1).map { case (n, e) => (n, expr(e)) }
    // catalystExpression, not expression: Spark 4 wraps Columns in a
    // lazy ColumnNodeExpression whose collect sees no children
    val refs = exprs.flatMap { case (_, c) =>
      org.apache.spark.sql.GraftBridge.catalystExpression(c).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
    }
    val missing = refs.distinct
      .filterNot(r => df.columns.exists(_.equalsIgnoreCase(r)))
    val widened = missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null)))
    widened.filter(
      exprs.map { case (_, c) => not(coalesce(c, lit(true))) }
        .reduce(_ || _))
  }

  /** The table's schema policy: `"evolve"` (the default — append/merge
    * batches may ADD columns, reconciled by the snapshot's union-schema
    * read) or `"strict"` (a batch carrying a column the snapshot lacks,
    * or changing an existing column's type, is rejected whole). */
  def schemaPolicy(spark: SparkSession, basePath: String): String =
    snapshot(spark, basePath).schemaPolicy

  /** Set the schema policy (metadata-only commit, protocol-carried like
    * the constraint set — a racing writer cannot drop it). STRICT is
    * the schema-enforcement half of the public formats: evolution stays
    * possible, but only as a deliberate `setSchemaPolicy("evolve")`,
    * never as a typo'd column silently widening a 100 TB table. Batches
    * may still OMIT nullable columns under strict (the snapshot read
    * materializes null). Works on an uninitialized table (the policy
    * gates every write from the first on; the first batch establishes
    * the schema it is then strict against). */
  def setSchemaPolicy(spark: SparkSession, basePath: String,
      policy: String): Long = {
    require(policy == "strict" || policy == "evolve",
      s"schema policy is 'strict' or 'evolve', got '$policy'")
    publish(spark, basePath, snapshot(spark, basePath), _.entries,
      editPolicy = Some(policy))
  }

  /** ALTER TABLE … ADD CONSTRAINT … CHECK: validate that every EXISTING
    * row satisfies `sqlExpr` (one scan — the standard one-time cost),
    * then publish a metadata-only commit recording it. From that commit
    * on, every data-adding write ([[commit]], [[appendOnce]], DML
    * rewrites, merges, rollup upserts) validates its STAGED rows — a
    * scan of the new data only — and a violating batch is rejected
    * whole with [[ConstraintViolation]], publishing nothing.
    *
    * Scope honestly stated: enforcement is as-of staging time (a write
    * racing the addConstraint itself may land unvalidated — the
    * optimistic-concurrency window the public formats share), and
    * [[rollbackTo]] / [[cloneTable]] republish references without
    * re-validation (constraints gate WRITES, they are not a retroactive
    * audit — [[violations]]-style checks of old snapshots are one
    * filter away for callers that want one). */
  def addConstraint(spark: SparkSession, basePath: String,
      name: String, sqlExpr: String): Long = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"constraint name must be [A-Za-z0-9._-]+, got '$name'")
    // parse eagerly so a malformed expression fails HERE, not on the
    // first write it would gate (catalystExpression forces the
    // conversion — Spark 4 Columns are lazy about it)
    org.apache.spark.sql.GraftBridge.catalystExpression(
      org.apache.spark.sql.functions.expr(sqlExpr))
    // uninitialized table: nothing to validate — the constraint lands as
    // an empty v1 and gates every write from the first one on (the
    // natural declare-before-load flow)
    val head = snapshot(spark, basePath)
    if (head.version > 0) {
      val cur = readSnapshot(spark, basePath, head)
      if (cur.columns.nonEmpty
          && violations(cur, Map(name -> sqlExpr)).limit(1).count() > 0)
        throw new ConstraintViolation(
          s"cannot add constraint $name CHECK ($sqlExpr) under $basePath: " +
            "existing rows violate it")
    }
    publish(spark, basePath, head, _.entries,
      editConstraints = Some(_ + (name -> sqlExpr)))
  }

  /** Remove a CHECK constraint (metadata-only commit). Unknown names
    * no-op rather than fail — drops are idempotent. */
  def dropConstraint(spark: SparkSession, basePath: String,
      name: String): Long =
    publish(spark, basePath, snapshot(spark, basePath), _.entries,
      editConstraints = Some(_ - name))

  /** Atomically publish the next version. `mkEntries(head)` derives the
    * manifest contents; the first CAS attempt takes the op's own
    * snapshot `base` as the head ([[Snapshot]] says why that is safe),
    * and every later attempt RE-EVALUATES it against one freshly read
    * head — a writer that loses a race re-derives (an append folds in
    * the winner's files) instead of renaming its stale list over the
    * winner's commit, which would be a silent lost update. `mkEntries`
    * may throw to abort (the optimistic-conflict path of the
    * copy-on-write ops). The applied-batch ledger is carried forward
    * automatically: `meta("batch_id")`, when present, is appended to the
    * head's ledger under the cap. */
  private[sources] def publish(spark: SparkSession, basePath: String,
      base: Snapshot, mkEntries: Snapshot => Seq[ManifestEntry],
      meta: Map[String, String] = Map.empty,
      seedLedger: Seq[String] = Seq.empty,
      editConstraints: Option[Map[String, String] => Map[String, String]]
        = None,
      editPolicy: Option[String] = None,
      recheck: Map[String, String] => Unit = _ => ()): Long = {
    meta.foreach { case (k, v) =>
      require(!k.contains("=") && !(k + v).exists(c =>
          c == '\n' || c == '\r' || c == '\t'),
        s"commit meta must be line-safe with '='-free keys: ($k, $v)")
    }
    require(!meta.contains(AppliedKey),
      s"#$AppliedKey is maintained by the protocol — pass batch_id instead")
    require(!meta.contains("ts"),
      "#ts (the commit timestamp) is stamped by the protocol")
    require(!meta.contains("eof") && !meta.contains("graft"),
      "#eof/#graft are the protocol's manifest framing — reserved")
    require(!meta.contains(ConstraintsKey),
      s"#$ConstraintsKey is maintained by the protocol — use addConstraint")
    require(!meta.contains(PolicyKey),
      s"#$PolicyKey is maintained by the protocol — use setSchemaPolicy")
    val mdir = manifestDir(basePath)
    val f = fs(spark, mdir)
    if (base.version == 0L) f.mkdirs(mdir)
    var head = base
    var attempts = 0
    var committed = -1L
    while (committed < 0) {
      attempts += 1
      require(attempts <= 100,
        s"manifest CAS did not converge after 100 attempts under $basePath")
      if (attempts > 1 || base.version == 0L) head = snapshot(spark, basePath)
      val newEntries = mkEntries(head)
      // ledger derivation happens INSIDE the CAS loop: a lost race means
      // the winner may have ingested batches this attempt must remember;
      // an uninitialized table starts from the seed (a clone inherits)
      val initialized = head.version > 0L
      val ledger = ((if (initialized) head.ledger else seedLedger) ++
        meta.get("batch_id")).takeRight(AppliedCap)
      // ts is clamped monotone over the head's stamp: a clock step-back
      // must not let readAsOf resolve a NEWER snapshot for an OLDER
      // stamp (version order and stamp order stay aligned)
      val ts = math.max(System.currentTimeMillis(),
        if (initialized) head.ts + 1 else Long.MinValue)
      // constraints are PROTOCOL-CARRIED like the ledger: every commit
      // takes the attempt's head set inside the CAS (a concurrent
      // addConstraint cannot be silently dropped by a racing writer);
      // editConstraints (add/dropConstraint) rewrites the set instead
      val headCons = head.constraints
      // the constraint-race hook: data-adding callers pass a closure
      // that re-validates their staged rows against whatever the HEAD's
      // constraint set holds BEYOND what staging validated — so a
      // commit racing `addConstraint` either validates against the new
      // constraint (this very line, inside the CAS) or aborts; it can
      // no longer land unvalidated through the optimistic window
      recheck(headCons)
      val consOut: Option[String] = editConstraints match {
        case None =>
          head.meta.get(ConstraintsKey).map(_ => encodeConstraints(headCons))
        case Some(f) => Some(encodeConstraints(f(headCons)))
      }
      // the schema policy carries exactly like the constraint set
      val polOut = editPolicy.orElse(head.meta.get(PolicyKey))
      val fullMeta = meta + ("ts" -> ts.toString) +
        (AppliedKey -> ledger.map(enc).mkString(",")) ++
        consOut.map(ConstraintsKey -> _) ++
        polOut.map(PolicyKey -> _)
      // framed: header first, #eof=<body line count> last (see
      // [[manifestLines]] — the torn-copy detector)
      val body = fullMeta.toSeq.sortBy(_._1)
        .map { case (k, v) => s"#$k=$v" } ++ newEntries.map(encodeEntry)
      val lines = (ManifestHeader +: body) :+ s"#eof=${body.size}"
      val tmp = new Path(mdir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val v = head.version + 1
      // a stale snapshot must not win a slot a vacuum emptied behind
      // newer heads (a commit no reader would see): while the head's own
      // manifest exists, an absent v<head+1> was never written
      if ((!initialized || f.exists(new Path(mdir, s"v${head.version}"))) &&
          commitStore.putIfAbsent(f, tmp, new Path(mdir, s"v$v")))
        committed = v
      else f.delete(tmp, false) // lost the race — re-derive and retry
    }
    committed
  }

  /** [[publish]] pinned to an expected head: the copy-on-write form. The
    * new entry list was derived from snapshot `expectedHead`; any commit
    * that landed since makes that derivation stale, so abort instead of
    * silently overwriting the interleaved commit. */
  private[sources] def publishEntries(spark: SparkSession, basePath: String,
      base: Snapshot, newEntries: Seq[ManifestEntry],
      meta: Map[String, String] = Map.empty): Long =
    publish(spark, basePath, base, head => {
      if (head.version != base.version)
        throw new java.util.ConcurrentModificationException(
          s"commit derived from v${base.version} but head is " +
            s"v${head.version} under $basePath — re-read the snapshot " +
            "and retry")
      newEntries
    }, meta)

  /** [[publishEntries]] for DML derivations that can REBASE over pure
    * appends instead of aborting — the public lakehouse formats'
    * logical conflict matrix (append vs delete/update: no conflict
    * under write-serializability; the rewrite's serial position is
    * before the append, which lands untouched). When the head moved,
    * the interleaved commits COMPOSE iff (a) every directory this
    * derivation read-and-replaced (or whose rows its deletion vector
    * references) is still a live data entry at the new head — nobody
    * rewrote or compacted it away — (b) no deletion vector this
    * derivation applied was removed, and (c) every RACED deletion
    * vector references only directories OUTSIDE the read set — a
    * vector into a read directory could reference rows a COW rewrite
    * is about to re-stage (resurrection) or rows this derivation's own
    * vector/patch already accounts for, while a vector into an unread,
    * zone-disjoint directory commutes with the rewrite exactly like a
    * pure append does (the disjointness probe reads the raced vectors'
    * `file_path` sets — matches-proportional, and only on the conflict
    * path). Then the new entry list is re-derived FROM THE CURRENT
    * head (`mk(prev)`), so raced appends, zone-disjoint rewrites, and
    * zone-disjoint vectors all carry through. Anything else still
    * aborts with ConcurrentModificationException. */
  private def publishRebase(spark: SparkSession, basePath: String,
      base: Snapshot, readPaths: Set[String],
      recheck: Map[String, String] => Unit = _ => ())(
      mk: Seq[ManifestEntry] => Seq[ManifestEntry]): Long =
    publish(spark, basePath, base, head => {
      if (head.version != base.version) {
        val curData = head.dataPaths.toSet
        val curDels = head.delPaths.toSet
        val derived = base.delPaths.toSet
        def racedDelsDisjoint: Boolean = {
          val raced = (curDels -- derived).toSeq
          // normPath BOTH sides: the vectors' file_path values carry
          // Spark's own qualification (the _metadata virtual column at
          // the time the racer staged them), readPaths this module's —
          // the same two-qualifier seam touchedEntries normalizes, and
          // a data dir may shelter partition SUBDIRS, so match by
          // dir-or-descendant, not set membership. A raw `contains`
          // that never matched would make every raced vector look
          // disjoint and COMPOSE a real conflict (lost deletes).
          val rp = readPaths.map(normPath)
          raced.isEmpty || readDv(spark, raced)
            .select("file_path").distinct().collect()
            .forall { r =>
              val parent =
                normPath(new Path(r.getString(0)).getParent.toString)
              !rp.exists(p => parent == p || parent.startsWith(p + "/"))
            }
        }
        val composes = derived.subsetOf(curDels) &&
          readPaths.forall(curData.contains) && racedDelsDisjoint
        if (!composes) throw new java.util.ConcurrentModificationException(
          s"rewrite derived from v${base.version} conflicts with commits " +
            s"up to v${head.version} under $basePath — a raced commit " +
            "rewrote a " +
            "directory this derivation read, removed a deletion vector " +
            "it applied, or landed a vector into a directory it read; " +
            "re-read the snapshot and retry")
      }
      mk(head.entries)
    }, recheck = recheck)

  /** Stage `df` into a fresh immutable `data-<uuid>` directory (with an
    * optional zone-map sidecar over `statsCols`, read from the parquet
    * footers the write just produced — near-free, enables
    * [[readWhere]]'s range pruning). Returns the qualified path. Staging
    * is invisible until a manifest references it; a crash here leaves
    * vacuumable garbage, never a visible half-commit. */
  private[sources] def stage(df: DataFrame, basePath: String,
      base: Snapshot, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      validate: Boolean = true): String =
    stageValidated(df, basePath, base, statsCols, bloomCols, validate)._1

  /** [[stage]] plus the constraint set the staging actually VALIDATED
    * against — the capture that lets the publish-time recheck
    * ([[constraintRecheck]]) test only the DELTA a racing
    * `addConstraint` introduced. The schema policy and the constraint
    * set are the op's snapshot `base`'s: a constraint landing after it
    * either aborts a publish pinned to `base` or, for the publishes
    * that rebase or fold in raced commits, is validated as the recheck's
    * delta inside the CAS. */
  private[sources] def stageValidated(df: DataFrame, basePath: String,
      base: Snapshot, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      validate: Boolean = true): (String, Map[String, String]) = {
    // __fp/__ri are the read path's row-identity aliases (applyDels);
    // a data column with either name would make every deletion-vector
    // read ambiguous, so reject it at the only door data enters through
    require(!df.columns.exists(c => c == "__fp" || c == "__ri"),
      "column names __fp and __ri are reserved by the versioned protocol")
    val spark = df.sparkSession
    // fully qualified from the start: manifests are compared textually
    // against qualified listing paths (vacuum), so one canonical form
    val raw = new Path(basePath, s"data-${java.util.UUID.randomUUID()}")
    val dataDir = fs(spark, raw).makeQualified(raw)
    // STRICT schema policy gates before any bytes land (only the
    // batch's schema is needed): no unknown columns, no type changes
    // (nullability-insensitive — a batch whose array/struct nullability
    // is narrower than the snapshot's is compatible). An empty-schema
    // snapshot (policy declared before the first load) establishes
    // nothing yet — the first batch defines the schema.
    if (validate && base.schemaPolicy == "strict" && base.version > 0L) {
      val snap = snapshotSchema(spark, basePath, base)
      if (snap.fields.nonEmpty) df.schema.fields.foreach { f =>
        snap.fields.find(_.name.equalsIgnoreCase(f.name)) match {
          case None => throw new SchemaPolicyViolation(
            s"strict schema policy under $basePath: batch column " +
              s"'${f.name}' does not exist in the snapshot — " +
              "setSchemaPolicy(\"evolve\") to allow schema evolution")
          case Some(h) if !org.apache.spark.sql.GraftBridge
              .sameType(h.dataType, f.dataType) =>
            throw new SchemaPolicyViolation(
              s"strict schema policy under $basePath: column " +
                s"'${f.name}' is ${h.dataType.simpleString} in the " +
                s"snapshot but ${f.dataType.simpleString} in the batch")
          case _ => ()
        }
      }
    }
    df.write.mode(SaveMode.ErrorIfExists).parquet(dataDir.toString)
    // CHECK constraints gate the staging door — the one door all DATA
    // enters through (commits, DML rewrites, merges, rollup states);
    // deletion-vector stages pass validate=false (row identities, not
    // rows). Validated against the files just written, i.e. exactly
    // what readers would see; a violating batch is rejected WHOLE.
    val validated: Map[String, String] = if (!validate) Map.empty else {
      val cs = base.constraints
      if (cs.nonEmpty) {
        val staged = spark.read.parquet(dataDir.toString)
        // an unevaluable constraint (e.g. a non-boolean expression that
        // could not be type-checked at declaration because the table was
        // empty) must surface as a ConstraintViolation pointing at the
        // fix, not a bare analysis error from deep inside a write
        val broken0 =
          try violations(staged, cs).limit(1).count() > 0
          catch { case e: org.apache.spark.sql.AnalysisException =>
            fs(spark, dataDir).delete(dataDir, true)
            throw new ConstraintViolation(
              s"CHECK constraint(s) ${cs.keys.toSeq.sorted.mkString(", ")} " +
                s"under $basePath cannot be evaluated against this " +
                s"batch's schema (${e.getMessage.linesIterator.next()}) — " +
                "dropConstraint and re-add a boolean expression")
          }
        if (broken0) {
          // error-path only: one pass per constraint to name the broken
          val broken = cs.filter { case (n, e) =>
            violations(staged, Map(n -> e)).limit(1).count() > 0
          }.keys.toSeq.sorted
          fs(spark, dataDir).delete(dataDir, true)
          throw new ConstraintViolation(
            s"staged batch violates CHECK constraint(s) " +
              s"${broken.mkString(", ")} under $basePath — " +
              "nothing was committed")
        }
      }
      cs
    }
    if (statsCols.nonEmpty)
      Layout.writeZoneMap(spark, dataDir.toString, statsCols)
    if (bloomCols.nonEmpty) {
      // sizing: a [[withBloomSizing]] scope on this thread wins;
      // otherwise AUTO-SIZE from the just-written files' footer row
      // counts against a 3% target fpp — a 2k-row staging batch must
      // not pay (or mis-trust) a 1M-item filter. [[Layout
      // .writeBloomSidecar]] reads each footer once (a zero-row stage
      // gets no sidecar) and records what it chose in the sidecar meta.
      val (items, bits) = bloomSizing.get.getOrElse((-1L, -1L))
      Layout.writeBloomSidecar(spark, dataDir.toString, bloomCols,
        expectedItems = items, numBits = bits, fpp = 0.03)
    }
    (dataDir.toString, validated)
  }

  /** The publish-time half of the constraint gate: a closure for
    * [[publish]]'s `recheck` hook that validates the staged dir against
    * the DELTA between the head's constraint set (re-read inside the
    * CAS, so a racing `addConstraint` is seen) and what staging already
    * validated. On violation the staged dir is deleted and the commit
    * aborts whole — closing the optimistic window where a write racing
    * the constraint declaration could land unvalidated. */
  private[sources] def constraintRecheck(spark: SparkSession,
      basePath: String, dataDir: String,
      stagedWith: Map[String, String]): Map[String, String] => Unit = {
    // mutable capture: once a delta validates, later CAS retries of the
    // SAME publish need not re-validate it
    var validated = stagedWith
    headCons => {
      val delta = headCons.filter { case (n, e) =>
        !validated.get(n).contains(e) }
      if (delta.nonEmpty) {
        val staged = spark.read.parquet(dataDir)
        val broken =
          try violations(staged, delta).limit(1).count() > 0
          catch { case _: org.apache.spark.sql.AnalysisException => true }
        if (broken) {
          val dd = new Path(dataDir)
          fs(spark, dd).delete(dd, true)
          throw new ConstraintViolation(
            s"staged batch violates CHECK constraint(s) " +
              s"${delta.keys.toSeq.sorted.mkString(", ")} added " +
              s"concurrently under $basePath — nothing was committed")
        }
        validated = validated ++ delta
      }
    }
  }

  /** Validate an arbitrary frame against a constraint map with
    * [[stageValidated]]'s error contract: ONE combined violations pass
    * on the clean path, per-constraint naming only on the error path,
    * and an unevaluable constraint surfaces as an actionable
    * [[ConstraintViolation]], never a bare analysis error. `what` names
    * the operation in the message ("rollbackTo v3", "cloneTable of
    * src@v1"). */
  private def validateFrameAgainst(df: DataFrame, cs: Map[String, String],
      basePath: String, what: String): Unit = {
    if (cs.isEmpty || df.columns.isEmpty) return
    val broken0 =
      try violations(df, cs).limit(1).count() > 0
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new ConstraintViolation(
          s"CHECK constraint(s) ${cs.keys.toSeq.sorted.mkString(", ")} " +
            s"under $basePath cannot be evaluated against $what " +
            s"(${e.getMessage.linesIterator.next()}) — dropConstraint " +
            "and re-add a boolean expression, or pass validate = false")
      }
    if (broken0) {
      val broken = cs.filter { case (n, e) =>
        violations(df, Map(n -> e)).limit(1).count() > 0
      }.keys.toSeq.sorted
      throw new ConstraintViolation(
        s"$what would land rows violating CHECK constraint(s) " +
          s"${broken.mkString(", ")} under $basePath — nothing was " +
          "committed (pass validate = false to proceed verbatim, or " +
          "dropConstraint first)")
    }
  }

  /** Whether a staged dir holds rows, from its footers
    * ([[FsUtil.footers]] — a driver-side metadata loop, no Spark job).
    * The cheap post-write emptiness check that lets write paths stage
    * FIRST and decide after (one pipeline execution) instead of running
    * `isEmpty` (a full pipeline run) before staging (a second one). It
    * stops at the first non-empty footer, so a many-file dir does not pay
    * one open per file — on object storage each open is a round trip,
    * and the probe runs on every rollup upsert. */
  private[sources] def stagedNonEmpty(spark: SparkSession,
      dir: String): Boolean =
    FsUtil.footers(spark, dir).exists(_._1 > 0L)

  /** Driver-side union schema over staged dirs: each dir was written as
    * one unit (uniform schema within), so ONE footer per dir determines
    * it — the Spark row schema its first data file's footer records
    * ([[FsUtil.footers]]), a pure driver-side footer read; even a
    * plain non-merge
    * `spark.read.parquet(dir).schema` launches a whole inference JOB
    * per call. The union is a name-keyed field fold. Returns None on a
    * type conflict between dirs (widening schema evolution) or any
    * missing/unparsable footer metadata — callers fall back to Spark's
    * own mergeSchema resolution. */
  private[sources] def unionDirSchemas(spark: SparkSession,
      dirs: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
    // pruned READS pass per-file paths; a file's schema is its parent
    // dir's (staged as one unit), so dedupe to parents and the cost
    // stays one footer per DIR however many files survived pruning
    val roots = dirs.map { d =>
      if (d.endsWith(".parquet")) new Path(d).getParent.toString else d
    }.distinct
    for (d <- roots) {
      val s: StructType = scala.util.Try(FsUtil.footers(spark, d)
          .nextOption().flatMap(_._2)).toOption.flatten.getOrElse(return None)
      // key by the session's resolution rule: under the default
      // case-insensitive resolver, `Part` and `part` are ONE column
      // (mergeSchema unifies them to the first-seen spelling; an
      // explicit schema carrying both would be a duplicate-column
      // analysis error)
      val caseSensitive =
        spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
      for (f <- s.fields) {
        val key =
          if (caseSensitive) f.name
          else f.name.toLowerCase(java.util.Locale.ROOT)
        out.get(key) match {
          case None => out(key) = f.copy(nullable = true)
          case Some(g) if g.dataType == f.dataType => ()
          case _ => return None
        }
      }
    }
    Some(StructType(out.values.toSeq))
  }

  /** Reader over snapshot data paths (whole dirs or pruned file lists):
    * explicit driver-derived union schema when derivable — skipping the
    * distributed schema-reconciliation JOB mergeSchema launches on
    * every read — with mergeSchema as the fallback for cross-dir type
    * conflicts, where real coercion is needed. */
  private[sources] def snapReader(spark: SparkSession,
      paths: Seq[String]): org.apache.spark.sql.DataFrameReader =
    snapReader(spark, unionDirSchemas(spark, paths))

  /** [[snapReader]] over an already-derived union schema — the one
    * reader choice. */
  private def snapReader(spark: SparkSession,
      union: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.DataFrameReader = union match {
    case Some(s) => spark.read.schema(s)
    case None => spark.read.option("mergeSchema", "true")
  }

  /** Stage `df` and keep it only when it holds rows: returns the
    * manifest entry, or None after deleting the (tiny) empty dir. One
    * pipeline execution per staged frame — the emptiness answer comes
    * from the written footers, not a pre-pass. */
  private[sources] def stageNonEmpty(df: DataFrame, basePath: String,
      base: Snapshot, parts: Option[Set[String]]): Option[ManifestEntry] = {
    val spark = df.sparkSession
    val dir = stage(df, basePath, base)
    if (stagedNonEmpty(spark, dir))
      Some(ManifestEntry(dir, parts))
    else {
      val p = new Path(dir)
      fs(spark, p).delete(p, true)
      None
    }
  }

  /** Per-table cache of ONE snapshot's schemas — (version, the
    * driver-derived union schema or None for the mergeSchema fallback,
    * the schema the snapshot reads as) — filled by [[readVersion]]. A
    * committed snapshot is immutable, so an entry never
    * staleness-checks; stale versions overwrite. Deriving the union
    * opens one footer per dir of the WHOLE snapshot, so neither repeated
    * reads nor a strict-policy table's per-batch type check may pay it
    * on every call. */
  private val snapshotSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Option[org.apache.spark.sql.types.StructType],
      org.apache.spark.sql.types.StructType)]()

  private def snapshotSchema(spark: SparkSession, basePath: String,
      snap: Snapshot): org.apache.spark.sql.types.StructType = {
    val cached = snapshotSchemas.get(basePath)
    if (cached != null && cached._1 == snap.version) cached._3
    else readSnapshot(spark, basePath, snap).schema
  }

  /** The bloom-sidecar sizing (expected items, bits) a
    * [[withBloomSizing]] scope set on THIS thread; None = auto-size. A
    * plain, non-inheritable ThreadLocal: only the scope's own thread
    * stages with it, so a concurrent commit on another thread of the
    * same session keeps its auto-size. */
  private[graft] val bloomSizing =
    ThreadLocal.withInitial[Option[(Long, Long)]](() => None)

  /** Run `body` with an explicit bloom-sidecar sizing for every
    * bloom-staged commit `body` makes on the calling thread, restoring
    * the enclosing sizing after. The sizing never outlives the scope —
    * a one-off sizing leaking into later commits would undersize their
    * filters (≈ 100% false positives ≈ pruning silently stops
    * skipping) — and never reaches other threads. */
  def withBloomSizing[A](spark: SparkSession, expectedItems: Long,
      numBits: Long)(body: => A): A = {
    val prev = bloomSizing.get
    bloomSizing.set(Some((expectedItems, numBits)))
    try body
    finally bloomSizing.set(prev)
  }

  /** Commit `df` as the next version. `Overwrite` (default): the new
    * snapshot is exactly this batch. `Append`: the new snapshot is the
    * HEAD AT PUBLICATION TIME plus this batch (re-derived under the CAS,
    * so concurrent appends compose instead of clobbering) — the staged
    * directory is the only data written either way. `expectedHead`
    * (copy-on-write callers): abort with ConcurrentModificationException
    * if another commit landed since the caller read that head — the
    * rewrite was derived from a snapshot that is no longer current.
    * `statsCols`: write a zone-map sidecar into the staged directory
    * (range pruning in [[readWhere]]). `bloomCols`: write a per-file
    * bloom sidecar (equality pruning in [[readWhere]]; auto-sized from
    * the staged files' footer row counts, or by an enclosing
    * [[withBloomSizing]] scope on this thread). `parts`:
    * declare the staged directory partition-confined (see
    * [[ManifestEntry]]). Returns the committed version. */
  def commit(df: DataFrame, basePath: String,
      mode: SaveMode = SaveMode.Overwrite,
      expectedHead: Option[Long] = None,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty,
      parts: Option[Set[String]] = None,
      bloomCols: Seq[String] = Seq.empty): Long = {
    require(mode == SaveMode.Overwrite || mode == SaveMode.Append,
      s"versioned commits are Overwrite or Append, got $mode")
    val spark = df.sparkSession
    val base = snapshot(spark, basePath)
    val (dataDir, stagedWith) =
      stageValidated(df, basePath, base, statsCols, bloomCols)
    publish(spark, basePath, base, head => {
      expectedHead.filter(_ != head.version).foreach { e =>
        throw new java.util.ConcurrentModificationException(
          s"commit derived from v$e but head is v${head.version} under " +
            s"$basePath — re-read the snapshot and retry")
      }
      val entry = ManifestEntry(dataDir, parts)
      if (mode == SaveMode.Append) head.entries :+ entry
      else Seq(entry)
    }, meta,
      recheck = constraintRecheck(spark, basePath, dataDir, stagedWith))
  }

  /** Idempotent append: commit `batch` under `batchId` unless the ledger
    * already records that id — the batch-level exactly-once primitive
    * ([[commitStream]] builds on it; so does any at-least-once delivery
    * pipeline). Returns Some(version) when committed, None when the id
    * was a replay. The check-then-commit window is closed by the ledger
    * re-derivation inside the CAS: a concurrent commit of the SAME id
    * loses the rename race, re-derives, and (because ledger membership
    * is re-checked here against the refreshed head) aborts. */
  def appendOnce(batch: DataFrame, basePath: String,
      batchId: String): Option[Long] = {
    val spark = batch.sparkSession
    val base = snapshot(spark, basePath)
    if (base.ledger.contains(batchId)) return None
    val (dataDir, stagedWith) = stageValidated(batch, basePath, base)
    try {
      Some(publish(spark, basePath, base, head => {
        if (head.ledger.contains(batchId)) throw new ReplayedBatch
        head.entries :+ ManifestEntry(dataDir, None)
      }, Map("batch_id" -> batchId),
        recheck = constraintRecheck(spark, basePath, dataDir, stagedWith)))
    } catch { case _: ReplayedBatch => None }
  }

  private final class ReplayedBatch extends RuntimeException

  /** Read a specific committed snapshot (time travel). Append batches
    * may ADD columns over time; the union schema reconciles across the
    * snapshot's directories, older files reading the new columns as
    * null — schema evolution without rewriting history. The union is
    * derived DRIVER-SIDE from one footer per dir and cached per
    * snapshot (each dir was staged as one unit, so it is
    * schema-uniform); Spark's mergeSchema — a distributed
    * footer-reconciliation JOB on every read — remains the fallback for
    * cross-dir type conflicts, where real coercion is needed. */
  def readVersion(spark: SparkSession, basePath: String, v: Long): DataFrame =
    readSnapshot(spark, basePath, snapshotAt(spark, basePath, v))

  /** [[readVersion]] of a snapshot the caller already opened. */
  private def readSnapshot(spark: SparkSession, basePath: String,
      snap: Snapshot): DataFrame = {
    val dirs = snap.dataPaths
    if (dirs.isEmpty) spark.emptyDataFrame
    else {
      val cached = snapshotSchemas.get(basePath)
      val union =
        if (cached != null && cached._1 == snap.version) cached._2
        else unionDirSchemas(spark, dirs)
      val df = applyDels(spark, snapReader(spark, union).parquet(dirs: _*),
        snap.delPaths)
      snapshotSchemas.put(basePath, (snap.version, union, df.schema))
      df
    }
  }

  /** Manifest-level conservative test: can the `(fromV, toV]` window
    * have REMOVED or rewritten rows? True when any data directory of
    * `fromV` is gone at `toV` (a COW rewrite or delete) or the
    * deletion-vector set changed (a MOR delete / rollback). Zero jobs —
    * two manifest reads. A pure-append window is exactly `false`, so an
    * insert-only consumer (the streaming source's append mode) can gate
    * on this without running the change feed: false positives are
    * impossible for appends, and a `true` answer may be conservative
    * (e.g. a compaction that removed no rows) — that is the strict
    * reading an insert-only contract wants. */
  def windowRemovesRows(spark: SparkSession, basePath: String,
      fromV: Long, toV: Long): Boolean = {
    val from = snapshotAt(spark, basePath, fromV)
    val to = snapshotAt(spark, basePath, toV)
    val toData = to.dataPaths.toSet
    from.dataPaths.exists(p => !toData.contains(p)) ||
      from.delPaths.toSet != to.delPaths.toSet
  }

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, basePath: String): DataFrame =
    readSnapshot(spark, basePath, committedHead(spark, basePath))

  /** Undo without copying data: commit a NEW version whose manifest is
    * version `v`'s entry list (partition tags preserved). History stays
    * linear and complete; the ledger carries forward, so a rollback
    * cannot resurrect a replayed batch.
    *
    * The HEAD's constraint set also carries forward (a rollback undoes
    * data, not governance) — but [[addConstraint]] validated only the
    * data live at declaration time, so restoring a snapshot that
    * PREDATES a constraint can restore rows violating it. The default
    * restores verbatim (the documented policy: a rollback must always
    * be able to restore what was committed); `validate = true` opts in
    * to checking the restored snapshot against the head's constraints
    * and aborting the rollback on violation. */
  def rollbackTo(spark: SparkSession, basePath: String, v: Long,
      validate: Boolean = false): Long = {
    val target = snapshotAt(spark, basePath, v)
    // validation runs INSIDE the publish CAS (the recheck hook, like
    // every DML form's constraint gate): a pre-publish check would
    // leave the same optimistic window a racing addConstraint exploits
    // elsewhere — the hook sees the HEAD's constraint set as of the
    // attempt, and CAS retries re-validate only the delta
    val recheck: Map[String, String] => Unit =
      if (!validate) _ => ()
      else {
        var validated = Map.empty[String, String]
        headCons => {
          val delta = headCons.filter { case (n, e) =>
            !validated.get(n).contains(e) }
          if (delta.nonEmpty) {
            validateFrameAgainst(readSnapshot(spark, basePath, target),
              delta, basePath, s"rollbackTo v$v")
            validated = validated ++ delta
          }
        }
      }
    publish(spark, basePath, snapshot(spark, basePath), _ => target.entries,
      recheck = recheck)
  }

  /** SHALLOW CLONE: initialize `dstBase` as a ZERO-COPY snapshot of
    * `srcBase`'s version `v` (default: its head) — the clone's v1
    * manifest references the source's immutable data and tombstone
    * directories verbatim, so cloning a 100 TB table writes one
    * manifest file. The clone then evolves independently: every DML /
    * append / compaction stages ITS dirs under `dstBase` and carries the
    * still-shared source dirs by reference, exactly like any other
    * copy-on-write — a dev/test fork, a reproducible-experiment pin, or
    * a blue/green cutover staging table at zero storage cost.
    *
    * The clone INHERITS the source's applied-batch ledger AND its CHECK
    * constraints, both as-of the cloned version: its state includes
    * those batches' rows (so a pipeline redelivering one correctly
    * no-ops), and a fork of a gated table must not silently lose its
    * gate (the same property/txn-id carry the public shallow clones
    * do).
    *
    * Safety: [[vacuum]] on the CLONE only ever deletes `data-*` dirs
    * under `dstBase`, so it can never reap shared source data. The
    * reverse is the documented shallow-clone hazard (as in the public
    * formats): vacuum on the SOURCE does not know about the clone's
    * references — hold source retention while clones live, or compact
    * the clone (a full [[compactLatest]] rewrites it self-contained).
    * The target must be uninitialized; fails loudly otherwise. */
  def cloneTable(spark: SparkSession, srcBase: String, dstBase: String,
      v: Option[Long] = None, validate: Boolean = false): Long = {
    val src =
      v.fold(committedHead(spark, srcBase))(snapshotAt(spark, srcBase, _))
    // opt-in: a clone pinned to an OLD version inherits only that
    // version's constraint set; `validate = true` additionally checks
    // the cloned data against the source HEAD's constraints (the gates
    // an operator forking "the table" most likely expects to hold) and
    // aborts on violation. Default stays clone-verbatim. The check runs
    // as late as possible, but the clone's publish CAS is on DST, so an
    // addConstraint racing on SRC between this read and the publish is
    // inherently uncatchable cross-table — the documented residual
    // (same-table rollbackTo closes its window via the recheck hook).
    if (validate)
      validateFrameAgainst(readSnapshot(spark, srcBase, src),
        (if (v.isEmpty) src else snapshot(spark, srcBase)).constraints,
        srcBase, s"cloneTable of $srcBase@v${src.version}")
    // the ledger and the constraints inherit AS OF the cloned version:
    // the head's ledger may record batches whose data postdates (and so
    // is absent from) the clone, and a fork of a gated table must not
    // silently lose its CHECK gate
    publish(spark, dstBase, snapshot(spark, dstBase), head => {
      if (head.version != 0L) throw new IllegalStateException(
        s"cloneTable target $dstBase is already initialized " +
          s"(head v${head.version}) — clones must start from an empty table")
      src.entries
    }, Map("cloned_from" -> s"$srcBase@v${src.version}"),
      seedLedger = src.ledger,
      editConstraints =
        if (src.constraints.isEmpty) None else Some(_ ++ src.constraints),
      editPolicy = src.meta.get(PolicyKey)) // schema policy forks too
  }

  /** Net row-level CHANGE FEED between two retained snapshots — what an
    * incremental downstream consumer applies to catch up from `fromV`
    * to `toV`: each output row is a data row plus a `_change` column
    * (`insert` | `delete`), with multiset semantics (a row appended
    * twice yields two inserts).
    *
    * Manifest-aware, so the cost scales with the CHANGE, not the table:
    * directories common to both snapshots contribute only the rows
    * their deletion-vector DELTA touches (read file-by-file from the
    * delta's file list); directories present in one snapshot only are
    * read in full. A copy-on-write rewrite physically drops one dir and
    * adds another while most rows are identical — the net step cancels
    * those pairs (`exceptAll` both ways), so a COW DELETE surfaces only
    * the deleted rows, an UPDATE surfaces one delete + one insert per
    * changed row, and a rollback surfaces the rows it resurrects.
    * Schema evolution is aligned to the union schema (absent columns
    * read as null on both sides — the same reconciliation reads use).
    *
    * Deletion-vector deltas on common directories are located by one
    * pre-pass job (which files gained or lost tombstones). It runs only
    * when the two snapshots share a directory and either carries a
    * vector; a window holding a compaction or a rewrite of every
    * directory shares none and skips it.
    *
    * Both versions must still be retained ([[vacuum]] horizon); the
    * call fails loudly otherwise. */
  def changes(spark: SparkSession, basePath: String,
      fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV <= toV, s"changes: fromV $fromV must be <= toV $toV")
    val from = snapshotAt(spark, basePath, fromV)
    val to = snapshotAt(spark, basePath, toV)
    val fromPaths = from.dataPaths
    val toPaths = to.dataPaths
    val added = toPaths.filterNot(fromPaths.toSet)
    val removed = fromPaths.filterNot(toPaths.toSet)
    val common = fromPaths.filter(toPaths.toSet)
    // ONE driver-side footer fold serves both the collision guard and
    // the feed reads below (added ++ removed ++ common = every data dir
    // of both snapshots); a type conflict across dirs (widening
    // evolution) yields None and readers fall back to mergeSchema
    val feedSchema: Option[org.apache.spark.sql.types.StructType] =
      unionDirSchemas(spark, added ++ removed ++ common)
    // the feed APPENDS the `_change` convention column; a data column
    // of that exact name would be silently REPLACED by the marker
    // (withColumn overwrites) — the same silent-wrong-results class as
    // the scratch-column collision the internal names already guard
    // against. The marker name is the public feed contract, so a
    // collision fails loudly instead of deriving a surprise name.
    // (The rare widening-conflict fallback derives the two snapshot
    // schemas instead — correctness of the guard over cache warmth.)
    val guardCols: Seq[String] = feedSchema match {
      case Some(s) => s.fields.map(_.name).toSeq
      case None => Seq(from, to).distinctBy(_.version).flatMap(s =>
        snapshotSchema(spark, basePath, s).fields.map(_.name).toSeq)
    }
    require(!guardCols.exists(_.equalsIgnoreCase("_change")),
      s"changes: the table under $basePath has a data column named " +
        "'_change' — the change feed reserves that name for its " +
        "insert/delete marker; rename the data column")
    val (dvFrom, dvTo) = (from.delPaths, to.delPaths)

    def dv(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.emptyDataFrame
          .withColumn("__fp", lit(null).cast("string"))
          .withColumn("__ri", lit(null).cast("long"))
      else readDv(spark, paths)
        .select(col("file_path").as("__fp"), col("row_index").as("__ri"))
    // positions newly tombstoned (deletes in common dirs) and positions
    // un-tombstoned (a rollback resurrecting rows — inserts)
    val deltaDel = dv(dvTo).exceptAll(dv(dvFrom))
    val deltaIns = dv(dvFrom).exceptAll(dv(dvTo))

    // BOTH directions' touched-file lists in ONE job (they were two
    // full exceptAll runs + collects): per-position multiset counts on
    // each side, full-outer joined — a file is del-touched when some
    // position gained tombstones, ins-touched when some position lost
    // them. KB-scale output (file names), driver-collected once. With no
    // directory common to both snapshots (a window holding a compaction
    // or a copy-on-write rewrite of every dir) `rowsAt` keeps no file,
    // so the collect cannot matter and does not run.
    val (delFiles, insFiles): (Seq[String], Seq[String]) =
      if (common.isEmpty || (dvFrom.isEmpty && dvTo.isEmpty))
        (Seq.empty, Seq.empty)
      else {
        import org.apache.spark.sql.functions.{coalesce, count, max, when}
        val f = dv(dvFrom).groupBy("__fp", "__ri")
          .agg(count(lit(1)).as("__nf"))
        val t = dv(dvTo).groupBy("__fp", "__ri")
          .agg(count(lit(1)).as("__nt"))
        val rows = t.join(f, Seq("__fp", "__ri"), "full_outer")
          .select(col("__fp"),
            coalesce(col("__nt"), lit(0L)).as("nt"),
            coalesce(col("__nf"), lit(0L)).as("nf"))
          .filter(col("nt") =!= col("nf"))
          .groupBy("__fp")
          .agg(max(when(col("nt") > col("nf"), 1).otherwise(0)).as("d"),
            max(when(col("nf") > col("nt"), 1).otherwise(0)).as("i"))
          .collect()
        (rows.filter(_.getInt(1) == 1).map(_.getString(0)).toSeq,
          rows.filter(_.getInt(2) == 1).map(_.getString(0)).toSeq)
      }

    def readFiles(paths: Seq[String]): DataFrame =
      snapReader(spark, feedSchema).parquet(paths: _*)
    def rowsAt(delta: DataFrame, touchedFiles: Seq[String],
        keepDirs: Seq[String]): Option[DataFrame] = {
      val keep = keepDirs.map(normPath).toSet
      val files = touchedFiles.filter { f =>
        val p = normPath(f)
        keep.exists(d => p.startsWith(d + "/"))
      }
      if (files.isEmpty) None
      else Some(readFiles(files)
        .select(col("*"),
          col("_metadata.file_path").as("__fp"),
          col("_metadata.row_index").as("__ri"))
        .join(delta, Seq("__fp", "__ri"), "left_semi")
        .drop("__fp", "__ri"))
    }
    // Whole-dir rows with their feed SIGN attached in ONE scan (r17,
    // guide §2.3/§8 — shuffle/scan the decision as a column, not the
    // data twice): the r16 shape filtered one shared read per side,
    // which Spark plans as TWO scans of added ∪ removed (scan reuse
    // does not exist outside caching) — on a COW-rewrite window that is
    // 2× the table read just to tag rows ±1. The sign is a pure
    // function of the file path; each side still subtracts exactly its
    // own snapshot's deletion vectors via the sign-tagged anti-join
    // (dvTo positions only ever match +1 rows, dvFrom only −1 rows —
    // the same per-side applyDels semantics in one join).
    val signedWhole: Option[(DataFrame, String)] =
      if (added.isEmpty && removed.isEmpty) None
      else if (removed.isEmpty)
        Some((applyDels(spark, readFiles(added), dvTo), "insert"))
      else if (added.isEmpty)
        Some((applyDels(spark, readFiles(removed), dvFrom), "delete"))
      else {
        import org.apache.spark.sql.functions.{regexp_replace, when}
        val raw0 = readFiles(added ++ removed)
        def fresh(base: String): String =
          Iterator.iterate(base)(_ + "_")
            .find(n => !raw0.columns.contains(n)).get
        val (cFp, cRi, cSg) = (fresh("__fp"), fresh("__ri"), fresh("__sgn"))
        val raw = raw0.select(col("*"),
          col("_metadata.file_path").as(cFp),
          col("_metadata.row_index").as(cRi))
        val normFp = regexp_replace(regexp_replace(col(cFp),
          lit("^[A-Za-z][A-Za-z0-9+.-]*:"), lit("")),
          lit("/+"), lit("/"))
        val signed = raw.withColumn(cSg,
          when(added.map(d => normFp.startsWith(normPath(d) + "/"))
            .reduce(_ || _), lit(1L)).otherwise(lit(-1L)))
        val cleaned =
          if (dvTo.isEmpty && dvFrom.isEmpty) signed
          else {
            val tag = Seq((dvTo, 1L), (dvFrom, -1L)).flatMap {
              case (paths, s) if paths.nonEmpty =>
                Some(readDv(spark, paths)
                  .select(col("file_path").as(cFp),
                    col("row_index").as(cRi), lit(s).as(cSg)))
              case _ => None
            }.reduce(_ union _)
            signed.join(tag, Seq(cFp, cRi, cSg), "left_anti")
          }
        Some((cleaned.drop(cFp, cRi), cSg))
      }
    // a one-sided whole read needs no sign machinery — tag it below.
    // The sentinel tags cannot collide with a real sign column name:
    // fresh() names always start with "__sgn".
    val (wholeSigned, wholeOneSided)
        : (Option[(DataFrame, String)], Option[(DataFrame, String)]) =
      signedWhole match {
        case Some((df, tag)) if tag == "insert" || tag == "delete" =>
          (None, Some((df, tag)))
        case Some((df, sgnCol)) => (Some((df, sgnCol)), None)
        case None => (None, None)
      }

    val insertsRaw = wholeOneSided.filter(_._2 == "insert").map(_._1).toSeq ++
      rowsAt(deltaIns, insFiles, common)
    val deletesRaw = wholeOneSided.filter(_._2 == "delete").map(_._1).toSeq ++
      rowsAt(deltaDel, delFiles, common)
    if (wholeSigned.isEmpty && insertsRaw.isEmpty && deletesRaw.isEmpty)
      return readSnapshot(spark, basePath, to)
        .filter(lit(false))
        .withColumn("_change", lit(null).cast("string"))
    val allCols = (wholeSigned.map { case (df, sgn) => df.drop(sgn) }.toSeq ++
      insertsRaw ++ deletesRaw).flatMap(_.columns).distinct.sorted
    // set-operation type coercion widens the NullType placeholders of
    // absent columns against the other side's real type
    def align(dfs: Seq[DataFrame]): Option[DataFrame] =
      dfs.map(df => df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).as(c)): _*)).reduceOption(_ union _)
    // net: a COW rewrite's carried-over identical rows appear on both
    // sides — cancel them, multiset-exact. ONE aggregation nets both
    // directions: the textbook `ins.exceptAll(del) ∪ del.exceptAll(ins)`
    // lowers to TWO union+aggregate shuffles over the same pair, while
    // a signed count per distinct row needs one (rows re-expand to
    // |net| copies, so multiset semantics are exactly exceptAll's; SQL
    // groupBy matches nulls like exceptAll does).
    (wholeSigned, align(insertsRaw), align(deletesRaw)) match {
      case (None, Some(ins), None) => ins.withColumn("_change", lit("insert"))
      case (None, None, Some(del)) => del.withColumn("_change", lit("delete"))
      case (whole, insOpt, delOpt) =>
        import org.apache.spark.sql.functions.{abs => fabs, explode,
          least, sequence, shiftright, sum => fsum, when}
        // helper names must not shadow USER columns — `withColumn` on a
        // taken name silently REPLACES the data column (the old
        // exceptAll shape reserved nothing, so neither may this one)
        def fresh(base: String): String =
          Iterator.iterate(base)(_ + "_")
            .find(n => !allCols.contains(n)).get
        val (cS, cNet, cChk, cDup) =
          (fresh("__s"), fresh("__net"), fresh("__chk"), fresh("__dup"))
        // the whole frame aligns to allCols exactly like align() does (a
        // mergeSchema-fallback rowsAt frame can carry columns the whole
        // read lacks, and vice versa), with its sign riding as cS
        val signedInputs: Seq[DataFrame] =
          whole.map { case (df, sgn) => df.select((allCols.map(c =>
            if (df.columns.contains(c)) col(c) else lit(null).as(c)) :+
            col(sgn).as(cS)): _*) }.toSeq ++
          insOpt.map(_.withColumn(cS, lit(1L))).toSeq ++
          delOpt.map(_.withColumn(cS, lit(-1L))).toSeq
        // re-expansion is CHUNKED: a single explode(sequence(1, |net|))
        // materializes an O(|net|) array in one task — a row duplicated
        // millions of times (which exceptAll streamed) would OOM an
        // executor. Two bounded explodes keep every in-memory array at
        // ≤ chunk elements while the row stream between them is
        // |net|/chunk — same multiset result, streaming memory.
        val chunkBits = 13 // chunk = 8192, a shift keeps the math integral
        val chunk = 1L << chunkBits
        signedInputs.reduce(_ unionByName _)
          .groupBy(allCols.map(col): _*)
          .agg(fsum(col(cS)).as(cNet))
          .filter(col(cNet) =!= 0L)
          .withColumn(cChk,
            explode(sequence(lit(0L),
              shiftright(fabs(col(cNet)) - 1L, chunkBits))))
          .withColumn(cDup,
            explode(sequence(lit(1L),
              least(lit(chunk), fabs(col(cNet)) - col(cChk) * chunk))))
          .withColumn("_change",
            when(col(cNet) > 0L, "insert").otherwise("delete"))
          .drop(cNet, cChk, cDup)
    }
  }

  /** The commit log as a DataFrame: one row per retained version —
    * `(version, ts, batch_id, data_dirs, tombstone_dirs)`. Driver-side
    * manifest reads only (retained history is vacuum-bounded); `ts` is
    * the protocol-stamped commit wall clock. */
  def history(spark: SparkSession, basePath: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = versions(spark, basePath).map { v =>
      val s = snapshotAt(spark, basePath, v)
      org.apache.spark.sql.Row(v, s.ts, s.meta.get("batch_id").orNull,
        s.dataEntries.size, s.delPaths.size)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("data_dirs",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("tombstone_dirs",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Timestamp time travel: read the newest snapshot whose protocol-
    * stamped commit time is ≤ `tsMillis` (the AS OF TIMESTAMP form).
    * Fails loudly when every retained version is newer than the stamp —
    * the snapshot that WAS current then is vacuumed or predates the
    * table, and silently serving a newer one would lie. */
  def readAsOf(spark: SparkSession, basePath: String,
      tsMillis: Long): DataFrame = {
    val vs = versions(spark, basePath)
    require(vs.nonEmpty, s"no committed versions under $basePath")
    val eligible = vs.map(snapshotAt(spark, basePath, _))
      .filter(_.ts <= tsMillis)
    require(eligible.nonEmpty,
      s"no retained version at or before ts=$tsMillis under $basePath " +
        "(vacuumed away, or the table is younger than the stamp)")
    readSnapshot(spark, basePath, eligible.last)
  }

  /** Scheme-and-duplicate-slash-insensitive path form, for matching the
    * `_metadata.file_path` virtual column (whose qualification Spark
    * owns) against manifest paths (qualified by this module). Both sides
    * come from the same filesystem in one session, so stripping the
    * scheme and collapsing slashes yields a common form. */
  private def normPath(s: String): String =
    s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:", "").replaceAll("/+", "/")

  /** The manifest entries whose directories CONTAIN rows `matching`
    * keeps (a predicate filter, or the merge's key semi-join) —
    * discovered with ONE column-pruned scan (the columns `matching`
    * reads plus the `_metadata.file_path` virtual column; no data is
    * rewritten, and parquet pushdown/pruning apply as in any filter
    * query). Driver state is the distinct matching parent directories —
    * bounded by the snapshot's directory count. */
  private def touchedEntries(spark: SparkSession,
      dataEnts: Seq[ManifestEntry], dels: Seq[String])(
      matching: DataFrame => DataFrame): Seq[ManifestEntry] = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    // existing deletion vectors are applied first: a dir whose only
    // matching rows are already tombstoned must not be rewritten
    val matchDirs = matching(applyDels(spark,
        snapReader(spark, dataEnts.map(_.path))
          .parquet(dataEnts.map(_.path): _*),
        dels, keepMeta = true))
      .select(regexp_replace(col("__fp"), "/[^/]+$", "").as("__dir"))
      .distinct().collect().map(r => normPath(r.getString(0))).toSet
    dataEnts.filter { e =>
      val p = normPath(e.path)
      matchDirs.exists(d => d == p || d.startsWith(p + "/"))
    }
  }

  /** The columns a dir's `sidecar` covers — `_graft_zonemap` (its
    * `<c>_min` fields) or `_graft_bloom` (its `<c>_bloom` fields) — or
    * None when the dir has none: the fail-open gate of both skipping
    * layers. */
  private def sidecarCols(spark: SparkSession, dir: String,
      sidecar: String): Option[Set[String]] = {
    val p = new Path(dir, sidecar)
    val suffix = if (sidecar == "_graft_bloom") "_bloom" else "_min"
    if (!fs(spark, p).exists(p)) None
    else Some(Layout.readSidecar(spark, dir, sidecar).schema.fieldNames
      .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix)).toSet)
  }

  /** The columns EVERY one of `paths` carries a `sidecar` for, or empty
    * when any dir lacks one — rewrite paths thread the zone-map and
    * bloom sets through [[stage]] so DML on a skipping-indexed table
    * keeps both layers instead of silently shedding them one rewritten
    * dir at a time. */
  private def sharedCols(spark: SparkSession, paths: Seq[String],
      sidecar: String): Seq[String] = {
    val sets = paths.map(sidecarCols(spark, _, sidecar).getOrElse(Set.empty))
    if (sets.isEmpty || sets.exists(_.isEmpty)) Seq.empty
    else sets.reduce(_ intersect _).toSeq.sorted
  }

  /** Predicate-driven read — the planner face of BOTH skipping layers:
    * distills `cond` into a typed predicate tree ([[PredicateRanges
    * .tree]]), resolves per-column range envelopes against each
    * directory's zone-map sidecar (through the sidecar-RECORDED column
    * families, so date / string / timestamp predicates prune their own
    * encoded spaces) and equality probe sets against each directory's
    * bloom sidecar, prunes the file listing with whichever layers the
    * dir carries (files must survive BOTH), reads the survivors, and
    * re-applies the precise predicate — so the result is ROW-IDENTICAL
    * to `read(...).filter(cond)` by construction, with the caller
    * writing one ordinary filter expression and the storage layer
    * choosing its indexes. Disjunctions prune too (per-branch envelopes
    * hulled, probe sets unioned, over columns constrained in every
    * branch); genuinely unextractable shapes (casts, functions, LIKE)
    * and dirs without sidecars fail open; a contradictory conjunction
    * (`k = 1 AND k = 2`, `x > 5 AND x < 3`) short-circuits to an empty
    * result. */
  def readWhere(spark: SparkSession, basePath: String,
      cond: Column): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val node = PredicateRanges.tree(cond)
    val probesOpt = PredicateRanges.probes(node)
    val head = committedHead(spark, basePath)
    if (probesOpt.isEmpty) // k = 1 AND k = 2: no row can match
      return readSnapshot(spark, basePath, head).filter(lit(false))
    val probes = probesOpt.get
    // each layer is consulted only when the predicate holds something
    // it could resolve — an atom-free tree must not pay an fs.exists +
    // sidecar read per dir for nothing
    val hasAtoms = PredicateRanges.hasAtoms(node)
    val sources = head.dataPaths.flatMap { d =>
      val zone: Option[Set[String]] =
        if (!hasAtoms) None
        else Layout.loadZoneMap(spark, d).flatMap { zm =>
          PredicateRanges.rangeSets(node, zm.family) match {
            case None => Some(Set.empty[String]) // unsat under this dir
            case Some(rs) if rs.nonEmpty => Some(zm.pruneSets(rs).toSet)
            case _ => None
          }
        }
      val bloom: Option[Set[String]] =
        if (probes.isEmpty) None
        else sidecarCols(spark, d, "_graft_bloom")
          .map(cs => probes.filter(p => cs.contains(p._1))) match {
          case Some(us) if us.nonEmpty =>
            Some(Layout.pruneFilesBloom(spark, d, us).toSet)
          case _ => None
        }
      (zone, bloom) match {
        case (None, None) => Seq(d)
        case (Some(z), None) => z.toSeq
        case (None, Some(b)) => b.toSeq
        case (Some(z), Some(b)) => (z intersect b).toSeq
      }
    }
    val base =
      if (sources.isEmpty)
        readSnapshot(spark, basePath, head).filter(lit(false))
      else applyDels(spark,
        snapReader(spark, sources).parquet(sources: _*), head.delPaths)
    base.filter(cond)
  }

  /** The entries whose zone-map sidecars cannot rule them out for the
    * predicate tree — a dir WITH a sidecar whose per-file rectangles
    * are all disjoint from the per-column envelopes (resolved through
    * THAT dir's recorded column families) provably holds no matching
    * rows and is dropped; dirs without a sidecar, and columns the
    * predicate or sidecar cannot serve, always survive. Fail open at
    * every step; a predicate unsatisfiable under a dir's families
    * drops that dir outright. */
  private[graft] def zoneSurvivors(spark: SparkSession,
      ents: Seq[ManifestEntry],
      node: PredicateRanges.Node): Seq[ManifestEntry] =
    if (!PredicateRanges.hasAtoms(node)) ents
    else ents.filter { e =>
      Layout.loadZoneMap(spark, e.path) match {
        case None => true
        case Some(zm) => PredicateRanges.rangeSets(node, zm.family) match {
          case None => false // unsatisfiable under this dir's families
          case Some(rs) => rs.isEmpty || zm.pruneSets(rs).nonEmpty
        }
      }
    }

  /** File-level copy-on-write: rewrite ONLY the directories containing
    * rows matching `cond`, carry the rest forward by reference.
    * Directories whose zone-map sidecars are provably disjoint from the
    * predicate's extracted per-column intervals ([[PredicateRanges]])
    * are skipped before the discovery scan even plans them — the
    * listing-time layer applied to the WRITE path. `keepParts`: the
    * rewrite provably cannot move rows across partitions (DELETE), so
    * surviving rows still honor the touched directories' union tag.
    * Returns the unchanged head when nothing matches — publishing an
    * identical snapshot would be churn. */
  private def cowRewrite(spark: SparkSession, basePath: String,
      cond: Column, rewrite: DataFrame => DataFrame,
      keepParts: Boolean): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val head = committedHead(spark, basePath)
    val dels = head.delPaths
    val candidates =
      zoneSurvivors(spark, head.dataEntries, PredicateRanges.tree(cond))
    if (candidates.isEmpty) return head.version
    val touched = touchedEntries(spark, candidates, dels)(
      _.filter(coalesce(cond, lit(false))))
    if (touched.isEmpty) return head.version
    val touchedPaths = touched.map(_.path).toSet
    // apply existing tombstones BEFORE rewriting: a raw re-read of a
    // touched dir would silently resurrect its deleted rows. Tombstone
    // entries are carried — still live for untouched dirs, harmlessly
    // dangling for the files this rewrite replaces.
    val rewritten = rewrite(applyDels(spark,
      snapReader(spark, touched.map(_.path))
        .parquet(touched.map(_.path): _*), dels))
    val tag =
      if (keepParts && touched.forall(_.parts.isDefined)) {
        val u = touched.flatMap(_.parts.get).toSet
        if (u.nonEmpty) Some(u) else None
      } else None
    // the replacement dir inherits the touched dirs' shared stats and
    // bloom columns, so both skipping layers survive DML
    val (staged, stagedWith) = stageValidated(rewritten, basePath, head,
      sharedCols(spark, touched.map(_.path), "_graft_zonemap"),
      sharedCols(spark, touched.map(_.path), "_graft_bloom"))
    // the rebase read set is the CANDIDATES (every dir the discovery
    // scan read), not just the touched dirs: a racer rewriting a dir we
    // read-but-didn't-touch is a read-write conflict — its replacement
    // may hold rows this predicate should have seen — so it aborts;
    // only dirs the zone maps proved disjoint AT DERIVATION compose.
    // constraintRecheck: a rebase can compose over a racing
    // addConstraint (metadata-only commit), so the staged rewrite's
    // rows re-validate against the head's constraint DELTA inside the
    // CAS — same gate the append paths carry
    publishRebase(spark, basePath, head, candidates.map(_.path).toSet,
      recheck = constraintRecheck(spark, basePath, staged, stagedWith))(
      prev =>
      prev.filterNot(e => touchedPaths(e.path)) :+ ManifestEntry(staged, tag))
  }

  /** Copy-on-write DELETE: publish a new version without the matching
    * rows — the transactional form of the engine's anti-join delete
    * (SURVEY §2.9 D2): readers see the old snapshot until the commit
    * lands, then the new one, never a half-deleted table, and the
    * pre-delete version stays readable for audit/undo until vacuumed.
    * FILE-LEVEL: only directories containing matches are rewritten;
    * untouched directories are carried by reference, so a selective
    * delete costs the touched data, not the table. Returns the
    * committed version (the unchanged head when nothing matched). */
  def deleteWhere(spark: SparkSession, basePath: String,
      cond: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // SQL DELETE semantics: remove rows where cond is TRUE; rows where
    // cond is NULL are kept (a bare !cond would silently drop them)
    cowRewrite(spark, basePath, cond,
      df => df.filter(not(coalesce(cond, lit(false)))), keepParts = true)
  }

  /** Copy-on-write UPDATE: publish a new version with `assignments`
    * applied to the rows matching `cond` (the D1 UPDATE…WHERE form,
    * transactionally). Each assignment column keeps its old value where
    * the condition does not hold. FILE-LEVEL like [[deleteWhere]].
    *
    * Partition tags on rewritten directories: by default they are
    * DROPPED (an assignment may move rows across partition values, so
    * the confinement claim no longer holds — dropping is always safe,
    * never fast). `partitionCol` is the caller's declaration that the
    * table's directory tags confine values of THAT column; when the
    * update does not assign it, rows provably cannot change partition
    * value, so the rewritten directory keeps the touched directories'
    * union tag and stays skippable by future partition-pruned writers
    * ([[Incremental.upsertRollup]]). An update that DOES assign the
    * declared column falls back to dropping the tag. */
  def updateWhere(spark: SparkSession, basePath: String,
      cond: Column, assignments: Map[String, Column],
      partitionCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{lit, when}
    cowRewrite(spark, basePath, cond, { df =>
      assignments.foldLeft(df) { case (d, (c, e)) =>
        // schema evolution: the TOUCHED dirs may predate column `c`
        // (their rows read it as null through the snapshot's union
        // schema), so the keep-old-value branch is a literal null there
        val old = if (d.columns.contains(c)) d(c) else lit(null)
        d.withColumn(c, when(cond, e).otherwise(old))
      }
    }, keepParts = partitionCol.exists(pc =>
      // case-INSENSITIVE: withColumn resolves the assignment name
      // case-insensitively, so Map("Part" -> …) really rewrites `part`
      // — a case-sensitive check would keep a tag the rewrite broke
      !assignments.keys.exists(_.equalsIgnoreCase(pc))))
  }

  /** Merge-on-read DELETE: instead of rewriting the directories holding
    * matches ([[deleteWhere]]), write a DELETION VECTOR — the matching
    * rows' `(file_path, row_index)` identities, found by the same
    * column-pruned discovery scan — and publish a snapshot whose reads
    * subtract it. Position deletes, the public Iceberg-v2 / Delta-DV
    * shape: write cost is proportional to the MATCHES, not the touched
    * directories, which is what a trickle of row-level deletes against
    * a 100 TB table needs; the read side pays one anti-join until
    * [[compactLatest]] materializes the vectors away. Composes with
    * every other op: copy-on-write rewrites apply outstanding vectors
    * before re-staging (no resurrection), stale vectors dangle
    * harmlessly, vacuum treats vector dirs as referenced. Returns the
    * committed version (the unchanged head when nothing matches). */
  def deleteWhereMor(spark: SparkSession, basePath: String,
      cond: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val head = committedHead(spark, basePath)
    val dels = head.delPaths
    val candidates =
      zoneSurvivors(spark, head.dataEntries, PredicateRanges.tree(cond))
    if (candidates.isEmpty) return head.version
    // stage FIRST, decide from the written footers (r17 — the
    // stageNonEmpty pattern): the old shape ran the discovery scan once
    // for `isEmpty` and once for the stage, behind a cache; one run now
    val dv = applyDels(spark,
        snapReader(spark, candidates.map(_.path))
          .parquet(candidates.map(_.path): _*), dels, keepMeta = true)
      .filter(coalesce(cond, lit(false)))
      .select(col("__fp").as("file_path"), col("__ri").as("row_index"))
    val staged = stage(dv, basePath, head, validate = false)
    if (!stagedNonEmpty(spark, staged)) {
      val p = new Path(staged)
      fs(spark, p).delete(p, true)
      return head.version
    }
    publishRebase(spark, basePath, head, candidates.map(_.path).toSet)(prev =>
      prev :+ ManifestEntry(staged, None, tombstone = true))
  }

  /** Merge-on-read UPDATE: tombstone the matching rows and append their
    * updated copies as a new data directory — one discovery scan, write
    * cost proportional to the matches. The patch directory is untagged
    * (updated rows may cross partition values). Returns the committed
    * version (the unchanged head when nothing matches). */
  def updateWhereMor(spark: SparkSession, basePath: String,
      cond: Column, assignments: Map[String, Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val head = committedHead(spark, basePath)
    val dels = head.delPaths
    val candidates =
      zoneSurvivors(spark, head.dataEntries, PredicateRanges.tree(cond))
    if (candidates.isEmpty) return head.version
    // cached: one discovery scan feeds the vector AND the patch rows
    // (two stage writes). The former separate `isEmpty` probe run is
    // gone (r17): the vector stages first and its footers answer
    // emptiness — the patch write only happens when matches exist.
    val matched = applyDels(spark,
        snapReader(spark, candidates.map(_.path))
          .parquet(candidates.map(_.path): _*), dels, keepMeta = true)
      .filter(coalesce(cond, lit(false)))
      .cache()
    try {
      val dv = matched
        .select(col("__fp").as("file_path"), col("__ri").as("row_index"))
      val dvDir = stage(dv, basePath, head, validate = false)
      if (!stagedNonEmpty(spark, dvDir)) {
        val p = new Path(dvDir)
        fs(spark, p).delete(p, true)
        return head.version
      }
      val patched = assignments.foldLeft(matched: DataFrame) {
        case (d, (c, e)) => d.withColumn(c, e)
      }.drop("__fp", "__ri")
      val (patchDir, patchWith) = stageValidated(patched, basePath, head)
      // the patch dir carries NEW row values — recheck it against any
      // constraint a racing addConstraint landed (the vector carries
      // only row identities, nothing to validate)
      publishRebase(spark, basePath, head, candidates.map(_.path).toSet,
        recheck = constraintRecheck(spark, basePath, patchDir, patchWith))(
        prev =>
        prev :+ ManifestEntry(dvDir, None, tombstone = true)
          :+ ManifestEntry(patchDir, None))
    } finally matched.unpersist()
  }

  /** Transactional MERGE (upsert) — the third DML form, completing
    * delete/update/merge, file-level like both others. Semantics (the
    * standard SQL MERGE reduced to its load-bearing upsert core):
    * target rows matching a `source` row on equality of `keys` get their
    * `updateCols` replaced by the source's values; source rows with no
    * target match are INSERTED (full source schema — an insert batch may
    * ADD columns, which the snapshot's mergeSchema read reconciles, the
    * same evolution contract as append commits); unmatched target rows
    * pass through untouched.
    *
    * File-level copy-on-write: one key-column discovery scan finds the
    * data dirs holding matched rows; only those are rewritten (their
    * unmatched rows pass through inside the rewrite); every other dir is
    * carried by reference, and the inserts land as their own new dir.
    * So a trickle upsert into a 100 TB table costs the touched dirs plus
    * the insert batch — not the table.
    *
    * `source` must be key-unique (enforced — a duplicate source key
    * would multiply target rows, the standard MERGE cardinality
    * violation) and must contain `keys ++ updateCols`. `partitionCol`
    * preserves partition tags on rewritten directories when the merge
    * does not update the declared column ([[updateWhere]]'s contract);
    * insert directories are always untagged (their partition values
    * make no confinement claim — safe, never fast). Returns the
    * committed version (the unchanged head when source is empty). */
  def mergeInto(spark: SparkSession, basePath: String, source: DataFrame,
      keys: Seq[String], updateCols: Seq[String],
      partitionCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, when,
      max => fmax, min => fmin}
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    require(updateCols.nonEmpty,
      "mergeInto needs at least one update column (pure-insert = append)")
    require(!updateCols.exists(keys.contains),
      "mergeInto cannot update a match key (standard MERGE restriction)")
    // ONE aggregate over the source answers both the uniqueness check
    // and the numeric keys' envelope: per-key counts, then their max
    // plus each numeric key's min/max (a min/max over the distinct keys
    // equals one over the rows)
    val keyCounts = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val numericKeys = keyCounts.schema.fields.init.filter(_.dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]).map(_.name).toSeq
    val pre = keyCounts.agg(fmax(col("__n")), numericKeys.flatMap(k =>
      Seq(fmin(col(k).cast("double")), fmax(col(k).cast("double")))): _*)
      .head()
    require(pre.isNullAt(0) || pre.getLong(0) <= 1L,
      s"mergeInto source is not unique on ${keys.mkString(",")} — a " +
        "duplicate source key would multiply target rows")
    val head = committedHead(spark, basePath)
    val dels = head.delPaths

    // discovery: dirs holding a key present in the source — a key-column-
    // pruned semi-join, no rewrite. The source side carries keys only,
    // and dirs whose zone-map sidecars exclude the source keys' numeric
    // envelope are skipped before the scan plans them.
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val keyRanges: Seq[(String, Double, Double)] =
      numericKeys.zipWithIndex.flatMap { case (k, i) =>
        if (pre.isNullAt(1 + 2 * i) || pre.isNullAt(2 + 2 * i)) None
        else Some((k, Math.nextDown(pre.getDouble(1 + 2 * i)),
          Math.nextUp(pre.getDouble(2 + 2 * i))))
      }
    val candidates = zoneSurvivors(spark, head.dataEntries,
      PredicateRanges.numericEnvelope(keyRanges))
    val touched =
      if (candidates.isEmpty) Seq.empty[ManifestEntry]
      else touchedEntries(spark, candidates, dels)(
        _.join(srcKeys, keys, "left_semi"))
    val touchedPaths = touched.map(_.path).toSet

    // rewrite of touched dirs: matched rows take the source's updateCols
    // (outstanding deletion vectors applied first — no resurrection)
    val rewrittenEntry = if (touched.isEmpty) Seq.empty else {
      val t = applyDels(spark, snapReader(spark, touched.map(_.path))
        .parquet(touched.map(_.path): _*), dels)
      val s = source.select((keys.map(col) ++
        updateCols.map(c => col(c).as(s"__src_$c")) :+
        lit(true).as("__matched")): _*)
      val joined = t.join(s, keys, "left")
      val updated = updateCols.foldLeft(joined) { (df, c) =>
        // schema evolution: a touched dir may predate column `c` (an
        // earlier merge's insert batch introduced it) — unmatched rows
        // there keep their implicit null
        val old = if (df.columns.contains(c)) df(c) else lit(null)
        df.withColumn(c, when(col("__matched"), col(s"__src_$c"))
          .otherwise(old))
      }.drop("__matched").drop(updateCols.map(c => s"__src_$c"): _*)
      // updates cannot move rows across partition values only when the
      // caller-declared partition column is not among the updateCols —
      // then the touched dirs' union tag still confines the rewrite
      // ([[updateWhere]]'s contract); otherwise drop the tag (safe)
      val tag =
        if (partitionCol.exists(pc => // case-insensitive like updateWhere
              !updateCols.exists(_.equalsIgnoreCase(pc)))
            && touched.forall(_.parts.isDefined)) {
          val u = touched.flatMap(_.parts.get).toSet
          if (u.nonEmpty) Some(u) else None
        } else None
      val (dir, stagedWith) = stageValidated(updated, basePath, head,
        sharedCols(spark, touched.map(_.path), "_graft_zonemap"),
        sharedCols(spark, touched.map(_.path), "_graft_bloom"))
      Seq((ManifestEntry(dir, tag), stagedWith))
    }

    // inserts: source rows whose key exists nowhere in the target
    // (key-column-pruned; a tombstoned row's key no longer blocks).
    // Stage FIRST, decide from the written footers (r17 — the
    // stageNonEmpty pattern the rollup paths already use): the old shape
    // ran the anti-join pipeline once for `isEmpty` and once for the
    // stage, papering over the double run with a cache; this runs it
    // exactly once, and an empty result costs a tiny staged dir deleted
    // on the spot instead of a full probe scan.
    val allKeys = applyDels(spark,
      snapReader(spark, head.dataPaths).parquet(head.dataPaths: _*), dels)
      .select(keys.map(col): _*)
    val inserts: DataFrame = source.join(allKeys, keys, "left_anti")
    val insertEntry: Seq[(ManifestEntry, Map[String, String])] = {
      // the insert dir joins the skipping layers only when the source
      // actually carries every shared stats/bloom column
      val stats = sharedCols(spark, head.dataPaths, "_graft_zonemap")
        .filter(inserts.columns.contains)
      val blooms = sharedCols(spark, head.dataPaths, "_graft_bloom")
        .filter(inserts.columns.contains)
      val (dir, stagedWith) =
        stageValidated(inserts, basePath, head, stats, blooms)
      if (stagedNonEmpty(spark, dir))
        Seq((ManifestEntry(dir, None), stagedWith))
      else {
        val p = new Path(dir)
        fs(spark, p).delete(p, true)
        Seq.empty
      }
    }

    if (rewrittenEntry.isEmpty && insertEntry.isEmpty) return head.version
    // BOTH staged dirs carry new row values — each re-validates
    // against the head's constraint delta inside the CAS (a rebase
    // composes over a racing metadata-only addConstraint, so the
    // staging-time validation alone is not enough)
    val rechecks = (rewrittenEntry ++ insertEntry).map {
      case (e, w) => constraintRecheck(spark, basePath, e.path, w)
    }
    // the rebase read set is EVERY data dir at derivation: the insert
    // anti-join scanned them all, so any raced rewrite or vector is a
    // read-write conflict — but a raced pure append (whose new dir
    // removes nothing) composes, landing untouched after the merge's
    // serial position, exactly like the delete/update forms
    publishRebase(spark, basePath, head, head.dataPaths.toSet,
      recheck = hc => rechecks.foreach(_(hc)))(prev =>
      prev.filterNot(e => touchedPaths(e.path)) ++
        rewrittenEntry.map(_._1) ++ insertEntry.map(_._1))
  }

  /** Streaming publication: every micro-batch lands as ONE atomic append
    * commit via [[appendOnce]], keyed by `(streamName, epochId)` — so
    * downstream readers always see a complete snapshot (the plain
    * `parquet` streaming sink exposes in-progress files to any reader
    * that lists mid-write) AND a checkpoint-replayed micro-batch is a
    * no-op: exactly-once at the commit level. `streamName` must be
    * stable across restarts of the same logical stream (epoch ids are
    * per-checkpoint — a fresh checkpoint restarts them at 0, and two
    * streams feeding one table must not share a name, or new batches
    * would be misread as replays). `options` should carry
    * `checkpointLocation` in production. Returns the started query;
    * caller owns its lifecycle. */
  def commitStream(stream: DataFrame, basePath: String, streamName: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .options(options)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          appendOnce(batch, basePath, s"stream-$streamName-epoch-$epochId")
          ()
        }
      }
      .start()

  /** Bytes of a dir's DATA files — its sidecars are not data. */
  private def dirBytes(spark: SparkSession, path: String): Long =
    FsUtil.dataFiles(spark, path).map(_.getLen).sum

  /** Compaction INSIDE the protocol: fold data directories smaller than
    * `onlyDirsUnderBytes` into one `targetFiles`-file directory and
    * publish as a new version — an append-heavy [[commitStream]] table
    * gets its small files folded away without a write lock, and readers
    * never see a half-compacted table (the rewrite is just another
    * atomic commit; prior versions stay readable until [[vacuum]]).
    * Directories at or above the threshold are carried by reference —
    * at 100 TB, compaction must cost the accreted small files, not the
    * settled bulk. The default threshold folds everything (full
    * re-layout). Returns the committed version (the unchanged head when
    * nothing qualifies). */
  def compactLatest(spark: SparkSession, basePath: String,
      targetFiles: Int, onlyDirsUnderBytes: Long = Long.MaxValue): Long = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val head = committedHead(spark, basePath)
    val datas = head.dataEntries
    val (fold, carry) =
      if (onlyDirsUnderBytes == Long.MaxValue)
        (datas, Seq.empty[ManifestEntry])
      else datas.partition(e => dirBytes(spark, e.path) < onlyDirsUnderBytes)
    if (fold.isEmpty) return head.version
    // outstanding deletion vectors MATERIALIZE here: the folded rows are
    // re-staged with tombstoned rows subtracted. A full compaction
    // (everything folded) therefore drops the vector entries entirely; a
    // partial one keeps them for the carried dirs (their rows referencing
    // folded files dangle harmlessly).
    val df = applyDels(spark, snapReader(spark, fold.map(_.path))
      .parquet(fold.map(_.path): _*), head.delPaths).repartition(targetFiles)
    val tag =
      if (fold.forall(_.parts.isDefined)) {
        val u = fold.flatMap(_.parts.get).toSet
        if (u.nonEmpty) Some(u) else None
      } else None
    val delEnts =
      if (carry.isEmpty) Seq.empty else head.entries.filter(_.tombstone)
    val staged = stage(df, basePath, head,
      sharedCols(spark, fold.map(_.path), "_graft_zonemap"),
      sharedCols(spark, fold.map(_.path), "_graft_bloom"))
    publishEntries(spark, basePath, head,
      carry ++ delEnts :+ ManifestEntry(staged, tag))
  }

  /** OPTIMIZE … ZORDER BY inside the protocol: rewrite the LATEST
    * snapshot as one z-ordered directory ([[Layout.zOrderFrame]] —
    * every output file covers a small hyper-rectangle of the z-column
    * space) staged with a zone-map sidecar over `zCols` (and optionally
    * a bloom sidecar over `bloomCols`), published as just another
    * atomic commit — readers never see a half-optimized table, the
    * pre-optimize snapshot stays readable until [[vacuum]], and a
    * concurrent commit aborts the optimize (its rewrite is stale), not
    * the other way round. Outstanding deletion vectors MATERIALIZE away
    * (the rewrite subtracts them), like a full [[compactLatest]] —
    * which this is, plus clustering: run it where a plain compaction
    * would run but range/point reads dominate. Rows are unchanged, so
    * partition confinement (the union of the folded dirs' tags) and
    * CHECK constraints are preserved without re-validation. */
  def optimizeZOrder(spark: SparkSession, basePath: String,
      zCols: Seq[String], files: Int,
      bloomCols: Seq[String] = Seq.empty): Long = {
    val head = committedHead(spark, basePath)
    val datas = head.dataEntries
    if (datas.isEmpty) return head.version
    val df = applyDels(spark,
      snapReader(spark, datas.map(_.path))
        .parquet(datas.map(_.path): _*), head.delPaths)
    val clustered = Layout.zOrderFrame(df, zCols, files)
    val tag =
      if (datas.forall(_.parts.isDefined)) {
        val u = datas.flatMap(_.parts.get).toSet
        if (u.nonEmpty) Some(u) else None
      } else None
    // inherit the folded dirs' existing skipping columns on top of the
    // requested ones — the op whose purpose is read acceleration must
    // not shed the layers DML and compaction preserve
    val stats = (zCols ++ sharedCols(spark, head.dataPaths, "_graft_zonemap"))
      .distinct
    val blooms =
      (bloomCols ++ sharedCols(spark, head.dataPaths, "_graft_bloom")).distinct
    val staged = stage(clustered, basePath, head, statsCols = stats,
      bloomCols = blooms, validate = false)
    publishEntries(spark, basePath, head, Seq(ManifestEntry(staged, tag)))
  }

  /** DESCRIBE DETAIL: one row summarizing the LATEST snapshot — version,
    * commit stamp, directory/byte counts, how much of the table carries
    * each skipping layer or a partition tag, and the governance state
    * (constraint count, schema policy). Driver-side manifest + listing
    * reads only (O(dirs)); the ops face of the protocol. */
  def describe(spark: SparkSession, basePath: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val vs = versions(spark, basePath)
    require(vs.nonEmpty, s"no committed versions under $basePath")
    val head = snapshotAt(spark, basePath, vs.last)
    val datas = head.dataEntries
    def hasSidecar(d: String, name: String): Boolean = {
      val p = new Path(d, name)
      fs(spark, p).exists(p)
    }
    val row = org.apache.spark.sql.Row(
      head.version,
      head.ts,
      datas.size,
      head.delPaths.size,
      datas.map(d => dirBytes(spark, d.path)).sum,
      datas.count(_.parts.isDefined),
      datas.count(e => hasSidecar(e.path, "_graft_zonemap")),
      datas.count(e => hasSidecar(e.path, "_graft_bloom")),
      head.constraints.size,
      head.schemaPolicy,
      vs.size)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      ("version", org.apache.spark.sql.types.LongType),
      ("ts", org.apache.spark.sql.types.LongType),
      ("data_dirs", org.apache.spark.sql.types.IntegerType),
      ("tombstone_dirs", org.apache.spark.sql.types.IntegerType),
      ("bytes", org.apache.spark.sql.types.LongType),
      ("tagged_dirs", org.apache.spark.sql.types.IntegerType),
      ("zone_mapped_dirs", org.apache.spark.sql.types.IntegerType),
      ("bloom_indexed_dirs", org.apache.spark.sql.types.IntegerType),
      ("constraints", org.apache.spark.sql.types.IntegerType),
      ("schema_policy", org.apache.spark.sql.types.StringType),
      ("retained_versions", org.apache.spark.sql.types.IntegerType)
    ).map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t, nullable = n == "ts")
    })
    spark.createDataFrame(Seq(row).asJava, schema)
  }

  /** GC: drop manifests older than the last `keepVersions` and delete
    * every `data-*` directory no kept manifest references (including
    * crash-orphaned staging dirs that never made it into any manifest).
    * `minAgeMs` is the in-flight-commit guard: an unreferenced dir is
    * reaped only when older than the retention horizon, because a FULLY
    * STAGED dir may belong to a commit whose manifest has not renamed in
    * yet — a newest-manifest-mtime guard would reap it the moment any
    * other commit lands (the same reason every lakehouse vacuum uses a
    * retention PERIOD, hours by default, not head time). Readers of
    * vacuumed-away versions break — the documented retention trade. The
    * replay guard does NOT weaken with vacuum: its memory is the head
    * manifest's ledger, not the dropped manifests. */
  def vacuum(spark: SparkSession, basePath: String,
      keepVersions: Int = 2,
      minAgeMs: Long = 24L * 60 * 60 * 1000): Unit = {
    val (dropVs, reapDirs, _) =
      vacuumPlanInternal(spark, basePath, keepVersions, minAgeMs,
        readOnly = false)
    val base = new Path(basePath)
    val f = fs(spark, base)
    reapDirs.foreach(d => f.delete(new Path(d), true))
    dropVs.foreach(v =>
      f.delete(new Path(manifestDir(basePath), s"v$v"), false))
  }

  /** DRY-RUN of [[vacuum]] with the same parameters: one row per action
    * it WOULD take — `(action, target)` where action is
    * `drop_version` (manifest) or `reap_dir` (an unreferenced or
    * crash-orphaned `data-*` directory) — deleting nothing, INCLUDING
    * expired lease files (the real vacuum GCs those; the dry run is a
    * genuinely pure read an operator can script without side effects).
    * The operator's pre-flight: retention mistakes (a too-aggressive
    * keepVersions, a lease floor the caller forgot about) surface as a
    * readable plan instead of missing data. The plan is advisory: a
    * commit or lease landing between dry-run and vacuum changes what
    * the real run reaps (each evaluates its own snapshot). A lease-dir
    * listing failure does not throw here either (the real vacuum stays
    * loud): the plan comes back EMPTY plus one
    * `(lease_list_failed, <why>)` marker row — without lease visibility
    * no retention decision is defensible, and an empty plan can never
    * overstate what the real run would reap. */
  def vacuumDryRun(spark: SparkSession, basePath: String,
      keepVersions: Int = 2,
      minAgeMs: Long = 24L * 60 * 60 * 1000): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (dropVs, reapDirs, leaseErr) =
      vacuumPlanInternal(spark, basePath, keepVersions, minAgeMs,
        readOnly = true)
    val rows = leaseErr.map(msg =>
      org.apache.spark.sql.Row("lease_list_failed", msg)).toSeq ++
      dropVs.map(v =>
        org.apache.spark.sql.Row("drop_version", s"v$v")) ++
      reapDirs.map(d => org.apache.spark.sql.Row("reap_dir", d))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("action",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("target",
        org.apache.spark.sql.types.StringType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The shared retention planner behind [[vacuum]] and
    * [[vacuumDryRun]]: versions to drop and qualified `data-*` dirs to
    * reap, honoring keepVersions, the reader-lease floor, and the
    * in-flight-commit age horizon. Pure driver metadata work; with
    * `readOnly` it deletes nothing at all (not even expired lease
    * files) and reports a lease-listing failure as the third tuple
    * element instead of throwing. */
  private def vacuumPlanInternal(spark: SparkSession, basePath: String,
      keepVersions: Int, minAgeMs: Long,
      readOnly: Boolean): (Seq[Long], Seq[String], Option[String]) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val base = new Path(basePath)
    val f = fs(spark, base)
    val vs = versions(spark, basePath)
    if (vs.isEmpty) return (Seq.empty, Seq.empty, None)
    // reader-lease floor: a snapshot some live reader PINNED (and every
    // later one) is retained whatever keepVersions says — a long scan
    // can no longer have its files reaped mid-query by a concurrent
    // vacuum. The floor only ever widens the kept set, never narrows.
    val floor =
      try leaseFloor(spark, basePath, f.makeQualified(base).toString,
        readOnly)
      catch { case e: IllegalStateException if readOnly =>
        return (Seq.empty, Seq.empty, Some(e.getMessage))
      }
    val cut = math.min(
      math.max(0, vs.size - keepVersions),
      floor.map(fl => vs.indexWhere(_ >= fl) match {
        case -1 => vs.size
        case i => i
      }).getOrElse(vs.size))
    val (drop, keep) = vs.splitAt(cut)
    val referenced = keep.flatMap(manifestFiles(spark, basePath, _)).toSet
    val horizon = System.currentTimeMillis() - minAgeMs
    val reap = f.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("data-"))
      .filterNot(s => referenced.contains(s.getPath.toString))
      .filter(_.getModificationTime < horizon)
      .map(_.getPath.toString)
    (drop, reap, None)
  }

  // ------------------------------------------------------------- leases

  /** A live reader's claim on a snapshot: while open, [[vacuum]] keeps
    * that version (and everything after it) readable. Close it (or use
    * [[withPinnedSnapshot]]) when the scan is done. The claim is BOTH
    * in-process (a registry this JVM's vacuum consults directly) and
    * DURABLE — a tiny lease file under `_graft_leases/` whose name
    * carries the version and whose modification time is the renewal
    * stamp — so a vacuum run from ANOTHER process honors it too.
    * Crashed readers cannot block retention forever: a lease file older
    * than [[LeaseTtlMs]] (1 h) is expired — ignored
    * and garbage-collected by the next vacuum. Long scans call
    * [[SnapshotLease.renew]] inside the TTL. */
  final class SnapshotLease private[Versioned] (
      table: String, id: Long, val version: Long,
      f: FileSystem, file: Path) extends AutoCloseable {
    /** Re-stamp the durable lease — one metadata touch. Returns whether
      * the stamp LANDED: on stores where setTimes is unsupported or
      * transiently failing the durable lease keeps aging toward the TTL
      * while the scan believes itself protected — a cross-process
      * vacuum could then reap the pinned snapshot mid-query. Silent
      * failure was exactly that trap, so failures WARN (once per lease)
      * and surface as `false` for callers that can re-pin or abort. */
    def renew(): Boolean =
      try { f.setTimes(file, System.currentTimeMillis(), -1L); true }
      catch { case scala.util.control.NonFatal(e) =>
        if (!renewWarned) {
          renewWarned = true
          System.err.println(
            s"WARN graft.Versioned: lease renewal failed for $file " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "cross-process vacuum protection expires at the TTL; " +
              "in-process vacuums still honor this pin")
        }
        false
      }
    @volatile private var renewWarned = false
    override def close(): Unit = {
      val m = leases.get(table)
      if (m != null) m.remove(id)
      try f.delete(file, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private val leases = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Long, Long]]()
  private val leaseIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Durable-lease expiry: a lease file not re-stamped for this long
    * belongs to a crashed reader. */
  val LeaseTtlMs: Long = 3600000L

  private def leasesDir(basePath: String): Path =
    new Path(basePath, "_graft_leases")

  private val LeaseName = """lease-[0-9a-f-]+#v=(\d+)""".r

  /** The lowest version any live lease pins — in-process registry plus
    * non-expired durable lease files (another process's readers); a
    * file past the TTL is ignored AND deleted here (lease GC).
    *
    * A FAILURE to LIST the lease directory fails loudly: retention
    * decided without lease visibility could reap a snapshot another
    * process has pinned — the one thing the lease layer exists to
    * prevent — so a transiently failing store aborts the vacuum (the
    * caller retries later) instead of silently proceeding blind. A
    * cleanly absent directory is the normal no-leases path. */
  private def leaseFloor(spark: SparkSession, basePath: String,
      qualifiedBase: String, readOnly: Boolean = false): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val inProc = Option(leases.get(qualifiedBase))
      .flatMap(_.values.asScala.minOption)
    val horizon = System.currentTimeMillis() - LeaseTtlMs
    val durable =
      try {
        val d = leasesDir(basePath)
        val f = fs(spark, d)
        if (!f.exists(d)) None
        else f.listStatus(d).toSeq.flatMap { st =>
          st.getPath.getName match {
            case LeaseName(v) if st.getModificationTime >= horizon =>
              Some(v.toLong)
            case LeaseName(_) => // expired: a crashed reader's remnant
              // GC belongs to the REAL vacuum; the dry run stays pure
              if (!readOnly)
                try f.delete(st.getPath, false)
                catch { case scala.util.control.NonFatal(_) => () }
              None
            case _ => None
          }
        }.minOption
      } catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"cannot evaluate reader leases under $basePath " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — refusing " +
            "to make a retention decision without lease visibility; " +
            "retry the vacuum when the store recovers", e)
      }
    (inProc.toSeq ++ durable).minOption
  }

  /** Pin `version` (default: the current head) against vacuum until the
    * returned lease is closed. */
  def pinSnapshot(spark: SparkSession, basePath: String,
      version: Option[Long] = None): SnapshotLease =
    pinSnapshot(spark, basePath, version, versions(spark, basePath))

  /** [[pinSnapshot]] checked against a `_manifests` listing the caller
    * already holds (ascending, as [[versions]] returns it). */
  def pinSnapshot(spark: SparkSession, basePath: String,
      version: Option[Long], retained: Seq[Long]): SnapshotLease = {
    val v = version.getOrElse {
      require(retained.nonEmpty, s"no committed versions under $basePath")
      retained.last
    }
    require(retained.contains(v),
      s"cannot pin v$v under $basePath — not a committed version")
    val key = fs(spark, new Path(basePath))
      .makeQualified(new Path(basePath)).toString
    val id = leaseIds.incrementAndGet()
    leases.computeIfAbsent(key,
      _ => new java.util.concurrent.ConcurrentHashMap[Long, Long]())
      .put(id, v)
    val file = new Path(leasesDir(basePath),
      s"lease-${java.util.UUID.randomUUID()}#v=$v")
    val f = fs(spark, file)
    try { f.create(file, false).close() }
    catch { case scala.util.control.NonFatal(e) =>
      // the in-process registry still holds the pin, but a vacuum run
      // from ANOTHER process sees nothing — say so, loudly, instead of
      // letting the reader believe it has cross-process protection
      System.err.println(
        s"WARN graft.Versioned: could not create durable lease $file " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — this pin " +
          "protects against in-process vacuum only; a vacuum from " +
          "another process may reap the pinned snapshot")
    }
    new SnapshotLease(key, id, v, f, file)
  }

  /** Run `body` against a pinned head snapshot: the DataFrame reads
    * exactly that version, and a concurrent [[vacuum]] cannot reap its
    * files until `body` returns. */
  def withPinnedSnapshot[A](spark: SparkSession, basePath: String)(
      body: DataFrame => A): A = {
    val lease = pinSnapshot(spark, basePath)
    try body(readVersion(spark, basePath, lease.version))
    finally lease.close()
  }
}
