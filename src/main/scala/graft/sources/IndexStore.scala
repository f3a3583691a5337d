package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared persistence layout for build-once/probe-many index artifacts
  * (the engine's analog of the reference's faiss_*.index files,
  * reference app.py:63-102 loading them from disk).
  *
  * Three properties the per-operator paths previously lacked:
  *   - PORTABLE existence probes: the Hadoop FileSystem API honors the
  *     path's scheme (file:, hdfs:, s3a:), where `java.io.File` only
  *     ever saw the local disk — on a cluster that bug rebuilds the
  *     index on every call.
  *   - CONFIGURABLE root (`spark.graft.index.root`), so a deployment
  *     points index artifacts at durable shared storage instead of the
  *     build tree.
  *   - CONTENT FINGERPRINT in the path: the key hashes the source
  *     table's file listing (full path, length, mtime), so regenerating
  *     the corpus at the same path yields a NEW index path instead of
  *     silently serving results from a stale index, and distinct dirs
  *     can never collide (the hash covers the absolute path).
  */
object IndexStore extends org.apache.spark.internal.Logging {

  /** Artifact root; override with spark.graft.index.root. */
  def root(spark: SparkSession): String =
    spark.conf.get("spark.graft.index.root", "target/graft-index")

  /** Scheme-aware existence probe (file:/hdfs:/s3a:/...). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Modification time of `path` (-1 when absent): the [[DriverMemo]]
    * stamp of sources read by path rather than by fingerprint. */
  def mtime(spark: SparkSession, path: String): Long =
    try {
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime
    } catch { case _: java.io.IOException => -1L }

  /** 12-hex-char fingerprint of a table's file listing. Listing-based
    * (name + length + mtime), not content-based: O(files) driver-side
    * metadata calls, no data scan — the same trade Spark's own
    * relation cache makes. Good enough to catch regeneration; cheap
    * enough to run on every ensureIndex call.
    *
    * The listing is RECURSIVE (leaf files, not directory entries):
    * a partitioned source keeps its top-level directory statuses
    * stable while leaf files churn — and on object stores "directory"
    * entries carry no meaningful length/mtime at all — so a one-level
    * listing could serve a stale index after a partition rewrite.
    */
  def fingerprint(spark: SparkSession, table: String): String = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (st.isDirectory) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        entries += s"${s.getPath}|${s.getLen}|${s.getModificationTime}"
      }
    } else entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  /** Canonical artifact path: root/kind_fingerprint_params. */
  def indexPath(spark: SparkSession, kind: String, table: String, params: String): String =
    pathOf(spark, kind, fingerprint(spark, table), params)

  /** [[indexPath]] over an already computed [[fingerprint]] `fp`, so a
    * caller resolving several artifacts of one table lists and hashes
    * it once.
    */
  def pathOf(spark: SparkSession, kind: String, fp: String, params: String): String =
    s"${root(spark)}/${kind}_${fp}_$params"

  /** In-artifact completeness marker, written into the STAGING dir as
    * the last build step so it rides the rename. `_`-prefixed →
    * invisible to Spark's partition discovery (like _SUCCESS).
    */
  private val CompleteMarker = "_GRAFT_COMPLETE"

  /** Atomic build-once publication: `build` writes the whole artifact
    * (every sub-table) under a private DOT-PREFIXED staging dir
    * (`.tmp-<name>-<uuid>`, sibling of `path`), the completeness
    * marker lands in the staging dir LAST, then ONE rename moves it to
    * `path`. A complete artifact is therefore `path` + marker:
    *   - on file:/HDFS the rename is atomic, so marker-existence and
    *     dir-existence coincide and a reader can never observe a
    *     half-written artifact;
    *   - on object stores (s3a:) the rename is a non-atomic copy — a
    *     racing reader CAN list a partially-copied dir, but the marker
    *     is absent until the copy finishes, so completeness probes
    *     fail CLOSED (rebuild/repair) instead of serving a partial
    *     index.
    * A marker-less `path` (interrupted copy, pre-upgrade layout) is
    * deleted and rebuilt on the next publish.
    *
    * Why the dot prefix is the load-bearing part: Hadoop rename
    * semantics (FileSystem.rename, and FileContext on local/Delegate
    * filesystems) MOVE the source INSIDE an existing destination
    * directory instead of failing, so the LOSER of a first-build race
    * ends up nesting its staging dir inside the winner's artifact.
    * Spark's file index skips `.`/`_`-prefixed directories, so the
    * nested dir is INVISIBLE to every reader (no
    * CONFLICTING_DIRECTORY_STRUCTURES), and the loser detects and
    * deletes it before returning.
    */
  /** Filesystems whose rename is an atomic metadata op. On these, a
    * marker-less destination can only be a CRASH remnant (no live
    * writer — a live writer's rename is instantaneous), so deleting it
    * is safe. On object stores rename is a per-file copy: a
    * marker-less dir may be another publisher MID-COPY, and deleting
    * it would destroy files the winner already copied while its
    * marker still lands later — a marker-present-but-incomplete
    * artifact served forever. There we wait for the marker instead.
    */
  private def renameIsAtomic(scheme: String): Boolean =
    scheme == null || Set("file", "hdfs", "viewfs", "webhdfs", "hftp").contains(scheme)

  /** How long to wait for a concurrent object-store publisher's marker
    * before declaring the partial artifact a crash remnant. */
  private def publishGraceMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.publish.grace.ms", "600000").toLong

  def publish(spark: SparkSession, path: String)(build: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val dst = fs.makeQualified(new Path(path))
    if (fs.exists(new Path(dst, CompleteMarker))) return
    // dir without marker = partial artifact. On atomic-rename
    // filesystems that can only be a crash remnant: repair by
    // rebuilding (fail closed, never serve it). On object stores a
    // LIVE publisher may be mid-copy — give its marker a grace window
    // before treating the dir as crashed.
    if (fs.exists(dst)) {
      if (!renameIsAtomic(dst.toUri.getScheme)) {
        // this wait stalls first-query latency for up to the grace
        // window — surface it so the stall is attributable. (A writer
        // heartbeat can't shrink the window: the racer is inside an
        // object-store RENAME, a server-side copy it cannot touch
        // files under dst during, so liveness is only observable via
        // the marker's eventual arrival.)
        logWarning(s"publish($dst): marker-less artifact exists on a non-atomic-rename " +
          s"store; waiting up to ${publishGraceMs(spark)} ms for a concurrent publisher's " +
          "completeness marker before treating it as a crash remnant")
        val deadline = System.currentTimeMillis() + publishGraceMs(spark)
        while (!fs.exists(new Path(dst, CompleteMarker))
            && System.currentTimeMillis() < deadline) Thread.sleep(2000L)
        if (fs.exists(new Path(dst, CompleteMarker))) return // the racer finished
        logWarning(s"publish($dst): grace window elapsed with no marker; " +
          "deleting the partial artifact and rebuilding")
      }
      if (fs.exists(dst)) fs.delete(dst, true)
    }
    val tmp = new Path(dst.getParent,
      s".tmp-${dst.getName}-${java.util.UUID.randomUUID.toString.take(8)}")
    build(tmp.toString)
    fs.create(new Path(tmp, CompleteMarker)).close() // build complete
    if (fs.exists(dst)) { fs.delete(tmp, true); return } // lost while building
    if (!fs.rename(tmp, dst)) { fs.delete(tmp, true); return }
    // rename "succeeded" but a concurrent winner already created dst →
    // our staging dir was moved inside it (hidden); clean it up
    val nested = new Path(dst, tmp.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
  }

  /** Memoized open of a persisted artifact: partition discovery +
    * schema inference (expensive for a 2^nBits-dir bucket layout) run
    * once per (session, path) — the probe-many analog of the reference
    * keeping its loaded faiss index in memory (app.py:63-102
    * st.cache_resource). A DataFrame is a plan over an immutable,
    * fingerprint-addressed path, so the memo can never serve stale
    * data (regenerated corpora map to NEW paths) and pins no executor
    * memory.
    */
  def open(spark: SparkSession, path: String): DataFrame =
    DriverMemo.memo(spark, path)(spark.read.parquet(path))

  /** Drop every memo entry derived from the artifact at `path` — its
    * opened frames, collected metadata and tombstone probe (call after
    * rewriting or appending to it: a cached file listing no longer
    * covers the new files).
    */
  def invalidate(spark: SparkSession, path: String): Unit =
    DriverMemo.invalidate(spark, path)

  // ---------------------------------------------------------------
  // Epoch-partitioned maintenance: append and compaction
  //
  // A maintainable artifact stores its partition dirs one level down,
  // under epoch=<batch> (epoch=base for the initial build), so a
  // MULTI-FILE append can commit with ONE directory rename: the batch
  // is written complete under a hidden dot-prefixed staging sibling
  // (invisible to partition discovery), then renamed in as a new
  // epoch dir. A concurrent reader lists the artifact either before
  // the rename (sees none of the new vectors) or after (sees all) —
  // never a partially-committed set, which is exactly the
  // interleaving `mode("append")` into live partition dirs allowed.
  // Catalyst still prunes on the inner partition column; the extra
  // `epoch` partition column is dropped at load.
  // ---------------------------------------------------------------

  /** Hidden staging path for one epoch batch under `dataDir`;
    * `kind` tags the epoch (add/compact) for operability.
    */
  def stageEpochPath(dataDir: String, kind: String): String =
    s"$dataDir/.tmp-$kind-${java.util.UUID.randomUUID.toString.take(8)}"

  /** Commit a fully-written staging dir as a new epoch: one rename.
    * The staging name `.tmp-<kind>-<uuid>` becomes `epoch=<kind>-<uuid>`.
    */
  def commitEpoch(spark: SparkSession, dataDir: String, staging: String): Unit = {
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = fs.makeQualified(new Path(staging))
    val dst = new Path(fs.makeQualified(new Path(dataDir)),
      s"epoch=${src.getName.stripPrefix(".tmp-")}")
    require(fs.rename(src, dst), s"epoch commit failed: $src -> $dst")
    invalidate(spark, dataDir)
  }

  // ---------------------------------------------------------------
  // Streaming-ingest high-water mark (the idempotence ledger of
  // graft.streaming.IndexIngest, kept here because compact() must
  // maintain it when it folds ingest epochs away)
  // ---------------------------------------------------------------

  private def ingestHwmPath(dataDir: String) = new Path(dataDir, "_ingest_hwm")

  private val IngestEpoch = "epoch=ingest-b(\\d+)".r

  private def maxIngestEpoch(fs: org.apache.hadoop.fs.FileSystem, dataDir: String): Long = {
    val dir = new Path(dataDir)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case IngestEpoch(n) => n.toLong }.foldLeft(-1L)(math.max)
  }

  /** Read the streaming-ingest high-water mark (max committed batch
    * id; -1 = none). Tolerates a missing, empty, or torn file by
    * falling back to the max committed `epoch=ingest-b<N>` dir — the
    * same ledger the hwm summarizes — so a corrupt hwm degrades to
    * the epoch-existence probe instead of throwing
    * NumberFormatException on every subsequent micro-batch and
    * permanently wedging the ingest stream.
    */
  def readIngestHwm(spark: SparkSession, dataDir: String): Long = {
    val fs = ingestHwmPath(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readIngestHwmFile(fs, dataDir).getOrElse(maxIngestEpoch(fs, dataDir))
  }

  /** The hwm FILE's value alone (None = missing/empty/torn), no epoch
    * fallback — compact() needs this to know whether the file itself
    * is behind the epochs it is about to fold away.
    */
  private def readIngestHwmFile(fs: org.apache.hadoop.fs.FileSystem,
                                dataDir: String): Option[Long] = {
    val p = ingestHwmPath(dataDir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      if (s.isEmpty) None
      else try Some(s.toLong) catch { case _: NumberFormatException => None }
    }
  }

  /** Persist the ingest hwm ATOMICALLY: write complete to a hidden
    * temp file, then rename over `_ingest_hwm`
    * (FileContext.rename OVERWRITE — atomic on file:/HDFS). A crash
    * mid-write leaves only the temp file, never a torn visible value.
    * Where overwrite-rename is unsupported, falls back to
    * delete-then-rename, whose no-hwm window [[readIngestHwm]] repairs
    * from the epoch dirs.
    */
  def writeIngestHwm(spark: SparkSession, dataDir: String, batchId: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = ingestHwmPath(dataDir)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(dataDir,
      s"._ingest_hwm.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    }
  }

  /** Tombstone compaction — closes the lifecycle [[addTombstones]]
    * opens: rewrite the artifact minus its tombstoned ids as ONE new
    * epoch, drop the old epochs and the `_tombstones` dir, so probes
    * stop paying the anti-join forever. The rewrite stages hidden and
    * commits by rename like an append; old epochs are deleted AFTER
    * the compacted epoch is visible, so every id stays reachable
    * throughout — a reader racing the swap can transiently see a
    * surviving row TWICE (old + compacted epoch), which is why
    * compaction, like FAISS index rewrites, is a single-writer
    * maintenance operation, not a query-path one. No-op when no
    * deletes ever happened.
    *
    * Cross-JVM readers: compaction REPLACES the path's file listing,
    * so another session's memoized [[open]] goes stale (its listed
    * epoch files are gone) until that session calls [[invalidate]] or
    * reopens. Run compaction in a maintenance window, or have serving
    * sessions re-open the artifact after it — same operational
    * contract as swapping a FAISS index file under a live server.
    */
  def compact(spark: SparkSession, dataDir: String, tombstoneRoot: String,
              partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tomb = fs.makeQualified(new Path(s"$tombstoneRoot/_tombstones"))
    if (!fs.exists(tomb)) return
    // compaction swaps epoch dirs — a pre-epoch layout would end up
    // MIXED (epoch=* beside bare partition dirs), which breaks
    // partition discovery; refuse instead of corrupting
    require(fs.listStatus(new Path(dataDir)).exists(_.getPath.getName.startsWith("epoch=")),
      s"$dataDir does not use the epoch layout; compact() only maintains epoch-partitioned artifacts")
    replaceEpochs(spark, dataDir, tombstoneRoot, "compact", partitionCol,
      spark.read.parquet(dataDir)
        .join(broadcast(spark.read.parquet(tomb.toString)), Seq("vec_id"), "left_anti")
        .drop("epoch"))
  }

  /** The epoch swap of every maintenance rewrite (compact, IVF
    * rebalance): stage `rows` hidden, commit them as ONE `epoch=<kind>-*`
    * dir by rename, fold the ingest hwm, drop every other epoch,
    * invalidate the memos and retire `tombstoneRoot`'s tombstone set
    * (the rewrite already left those rows out). Old epochs go AFTER the
    * new one is visible, so every id stays reachable throughout.
    */
  private[graft] def replaceEpochs(spark: SparkSession, dataDir: String, tombstoneRoot: String,
                                   kind: String, partitionCol: String, rows: DataFrame): Unit = {
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = stageEpochPath(dataDir, kind)
    rows.repartition(org.apache.spark.sql.functions.col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(staging)
    val dataPath = fs.makeQualified(new Path(dataDir))
    val newEpochName = s"epoch=${new Path(staging).getName.stripPrefix(".tmp-")}"
    require(fs.rename(fs.makeQualified(new Path(staging)), new Path(dataPath, newEpochName)),
      s"$kind commit failed under $dataDir")
    foldIngestHwm(spark, dataDir)
    fs.listStatus(dataPath).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("epoch=") && nm != newEpochName) fs.delete(st.getPath, true)
    }
    invalidate(spark, dataDir)
    clearTombstones(spark, tombstoneRoot)
  }

  /** Fold the max committed `epoch=ingest-b<N>` id into the hwm file.
    * MUST run before any maintenance op deletes ingest epoch dirs: a
    * stream that crashed after commitEpoch but BEFORE its hwm write
    * would otherwise replay the batch post-maintenance (both its
    * guards gone — epoch dir folded away, hwm stale) and append
    * duplicate vectors.
    */
  private def foldIngestHwm(spark: SparkSession, dataDir: String): Unit = {
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded = maxIngestEpoch(fs, dataDir)
    if (folded >= 0 && !readIngestHwmFile(fs, dataDir).exists(_ >= folded))
      writeIngestHwm(spark, dataDir, folded)
  }

  /** Delete a root's tombstone set and its cached probe — for
    * maintenance ops (compact, rebalance) that just rewrote the
    * artifact minus the tombstoned rows.
    */
  private def clearTombstones(spark: SparkSession, root: String): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tomb = new Path(s"$root/_tombstones")
    if (fs.exists(tomb)) fs.delete(tomb, true)
    DriverMemo.invalidate(spark, tombstoneKey(root))
  }

  /** Deletion from an append-only index — FAISS `remove_ids()`
    * semantics without rewriting the artifact: deleted ids accumulate
    * as TOMBSTONES under `<path>/_tombstones` (the `_` prefix hides
    * the dir from Spark's partition discovery, like _SUCCESS), and
    * probes subtract them. At 100 TB this is the only shape that
    * works — rewriting a cell-partitioned corpus per delete is a
    * non-starter; compaction (rewrite minus tombstones, then reset)
    * is a background policy, not a query-path cost.
    */
  def addTombstones(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("vec_id").write.mode("append").parquet(s"$path/_tombstones")
    DriverMemo.invalidate(spark, tombstoneKey(path))
  }

  // the exists() probe is one namenode call per query — memoize the
  // result per (session, path), stamped with the TTL window it was
  // probed in, so CROSS-session maintenance stays visible: a delete
  // issued by another JVM appears within one TTL (a long-running
  // server would otherwise cache the negative probe forever), and a
  // compaction that REMOVES _tombstones stops being anti-joined within
  // one TTL. Same-JVM addTombstones/compact invalidate immediately.
  private def tombstoneKey(path: String): String = s"$path#tombstones"

  /** Tombstone-probe TTL (ms); conf `spark.graft.tombstone.ttl.ms`. */
  private def tombstoneTtlMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.tombstone.ttl.ms", "60000").toLong

  /** The index frame minus its tombstoned ids (no-op when no delete
    * has ever happened — the common case costs one memoized metadata
    * probe, re-validated per TTL). The anti-join broadcasts the
    * tombstone set: deletes are assumed small relative to the corpus;
    * after heavy deletion, [[compact]] instead.
    */
  def minusTombstones(spark: SparkSession, path: String, index: DataFrame): DataFrame = {
    val tombs = s"$path/_tombstones"
    val window = System.currentTimeMillis() / math.max(1L, tombstoneTtlMs(spark))
    val probed = DriverMemo.memo(spark, tombstoneKey(path), window)(
      java.lang.Boolean.valueOf(exists(spark, tombs)))
    // only NEGATIVE probes ride the TTL: a cached positive is
    // re-verified every call (one metadata op, paid only while deletes
    // exist), because acting on a stale positive after another
    // session's compact() deleted _tombstones would build an anti-join
    // against a missing path and fail the query — a stale negative
    // merely serves deleted ids for one TTL, which degrades instead of
    // crashing
    val has = probed.booleanValue && exists(spark, tombs)
    if (!has) index
    else index.join(
      org.apache.spark.sql.functions.broadcast(spark.read.parquet(tombs)),
      Seq("vec_id"), "left_anti")
  }
}
