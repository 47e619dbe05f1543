package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Generation pointer for tombstoned artifacts — the discipline that
  * lets a vacuum REWRITE an artifact without ever serving a torn state
  * (r12 verdict directive #3, carrying I15's compact+vacuum lifecycle
  * and its monotone-claim-floor lesson over to the three merge-on-read
  * artifacts: D18's band index, E21's PQ code table, E22's graph
  * edges).
  *
  * Layout: generation 0 IS the artifact root (exactly the pre-vacuum
  * paths, so un-vacuumed artifacts read identically to rounds ≤12);
  * generation g ≥ 1 lives under `root/_gen=g`. The current generation
  * is named by a dot-prefixed `.generation` sidecar (I21's manifest
  * discipline — invisible to plain parquet readers), written via
  * temp-file + atomic rename and REQUIRED monotone: the pointer flips
  * only after the new generation's files are fully written, so a crash
  * mid-vacuum leaves the old generation serving (index + sidecar —
  * correct by merge-on-read) and never a half-written new one. This is
  * the same write-before-delete ordering vacuumLog's claim floor
  * established for batch ids (Sources.scala) — here the "floor" is the
  * generation number itself.
  */
private[graft] object ArtifactGen {
  private def genFile(root: String) = new java.io.File(root, ".generation")

  def current(root: String): Int = {
    val f = genFile(root)
    if (f.isFile) {
      val raw = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      // an unreadable pointer means the live generation is UNKNOWN —
      // serving could resurrect vacuumed tombstones, so fail loudly
      // (unreachable through the atomic writer below; guards manual
      // edits and torn non-POSIX writes — claimFloor's discipline)
      try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"generation sidecar $f is unreadable (contents: '$raw')")
      }
    } else 0
  }

  def dir(root: String, g: Int): String =
    if (g == 0) root else s"$root/_gen=$g"

  /** Flip the pointer to `to` — atomic and monotone. Stamps the
    * retirement time of every generation the flip supersedes (their
    * `.retired_<g>` mtime), which is what [[reclaim]]'s retention
    * window ages against.
    */
  def bump(root: String, to: Int): Unit = {
    val cur = current(root)
    require(to > cur, s"generation must rise: $cur -> $to")
    val tmp = java.nio.file.Files.createTempFile(
      new java.io.File(root).toPath, ".generation_", ".tmp")
    java.nio.file.Files.write(tmp,
      to.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, genFile(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    (cur until to).foreach { g =>
      val s = retiredStamp(root, g)
      if (!s.isFile) { java.nio.file.Files.createFile(s.toPath); () }
    }
  }

  /** Content digest of a directory listing — sorted (name, size,
    * mtime) fold. The cache-bust key for sidecar-derived memo entries:
    * unlike a raw file COUNT (r13 advisor), any content swap that
    * keeps the file count — an overwritten/redelivered batch
    * partition, a compacted sidecar — moves the digest.
    */
  def dirDigest(d: java.io.File): String = {
    val kids = Option(d.listFiles).getOrElse(Array.empty[java.io.File])
    val s = kids.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(s))
  }

  /** A reader lease: pins one generation's files against [[reclaim]]
    * for the lease's lifetime. Dot-prefixed (invisible to parquet
    * listings, the `.generation` discipline), one file per
    * acquisition, content = the pinned generation number.
    */
  final class Lease private[ArtifactGen] (val gen: Int,
                                          private[ArtifactGen] val file: java.io.File)
      extends AutoCloseable {
    override def close(): Unit = { file.delete(); () }
  }

  /** Acquire a lease on the CURRENT generation — the multi-session
    * read discipline (r13 verdict directive #1): a long-running scan
    * that resolved the pointer pre-vacuum would otherwise have its
    * files deleted mid-scan by a concurrent [[reclaim]] (the
    * multi-hour 100 TB shape). Acquisition re-resolves after the
    * lease file lands: if the pointer flipped mid-acquisition the old
    * generation may already be gone, so the lease retries on the new
    * one — after the retry loop exits, the pinned generation's lease
    * was durably visible BEFORE any reclaim that could observe the
    * flip, so a lease-honoring reclaim defers it. The residual
    * lands-after-listing-read window is closed by [[reclaim]]'s
    * retention age, not the lease (Delta/Iceberg's layering).
    */
  def acquireLease(root: String): Lease = {
    var g = current(root)
    while (true) {
      val f = java.nio.file.Files.createTempFile(
        new java.io.File(root).toPath, ".lease_", "").toFile
      java.nio.file.Files.write(f.toPath,
        g.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val now = current(root)
      if (now == g) return new Lease(g, f)
      f.delete()
      g = now
    }
    throw new IllegalStateException("unreachable")
  }

  /** Generations pinned by live lease files. An unreadable lease pins
    * EVERY generation (conservative: an unknown pin must defer, never
    * delete — claimFloor's loud-vs-silent discipline applied to GC).
    */
  private def leasedGens(root: String, below: Int): Set[Int] = {
    val fs = Option(new java.io.File(root).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(".lease_"))
    fs.flatMap { f =>
      val raw = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      try Seq(raw.toInt)
      catch { case _: NumberFormatException => 0 until below }
    }.toSet
  }

  private def retiredStamp(root: String, g: Int) =
    new java.io.File(root, s".retired_$g")

  /** Reclaim old generations' member directories (the VACUUM half —
    * only this returns the bytes). Safe strictly AFTER [[bump]]: the
    * pointer already names the new generation, so readers that resolve
    * the pointer after the flip never list the removed paths. Deletes
    * only the named members, never the pointer or newer `_gen=` dirs.
    *
    * Two guards protect readers that resolved BEFORE the flip (r13
    * verdict directive #1 — previously this deleted immediately, and
    * "readers never list the removed paths" held only single-session):
    *
    *  - any generation pinned by a live [[Lease]] is DEFERRED, not
    *    deleted;
    *  - any generation retired (pointer bumped past it) less than
    *    `minAgeMs` ago is deferred — the retention window that closes
    *    the lease-lands-after-listing race and covers lease-less
    *    readers, Delta/Iceberg's `deletedFileRetentionDuration`.
    *
    * Returns the deferred generations so a maintenance pass can rerun
    * later ([[Vacuum.reclaimDeferred]]); the default `minAgeMs = 0`
    * keeps the single-session contract paths (freshly built private
    * roots, served strictly after the flip) instant.
    */
  def reclaim(root: String, below: Int, members: Seq[String],
              minAgeMs: Long = 0L,
              dirOf: (String, Int) => String = dir): Seq[Int] = {
    def delete(f: java.io.File): Unit = {
      val kids = f.listFiles
      if (kids != null) kids.foreach(delete)
      f.delete()
      ()
    }
    val leased = leasedGens(root, below)
    val deferred = Seq.newBuilder[Int]
    (0 until below).foreach { g =>
      val stamp = retiredStamp(root, g)
      val tooYoung = minAgeMs > 0 && stamp.isFile &&
        (System.currentTimeMillis - stamp.lastModified) < minAgeMs
      if (leased.contains(g) || tooYoung) deferred += g
      else members.foreach { m =>
        val f = new java.io.File(dirOf(root, g), m)
        if (f.exists) delete(f)
      }
    }
    deferred.result()
  }
}

/** Partition-layered generations — the damage-proportional variant of
  * [[ArtifactGen]] for PARTITIONED artifacts (r13 ADVICE, medium: the
  * shard-layout purge used to read and dynamic-partition-overwrite the
  * SAME path in one job while mutating the session-global overwrite
  * mode; a crash between the partition delete and the staged commit
  * left a torn layout with no recovery pointer). Here a generation
  * directory holds ONLY the partitions its step rewrote, and a read
  * resolves each partition from the highest generation containing it —
  * the write stays O(damage) (the whole point of the purge) while
  * inheriting ArtifactGen's crash discipline: the layer is fully
  * written BEFORE the pointer flips, so a crash leaves the previous
  * layout serving complete; after the flip the shadowed partitions in
  * older generations are dead weight, reclaimable via
  * [[ArtifactGen.reclaim]] (lease/retention-gated like any other).
  *
  * Scale shape of the read: ONE scan per generation layer, never one
  * per partition — the shadowed partitions are excluded with a plain
  * `NOT IN` on the partition column, typed to the inferred partition
  * type so it stays a PartitionFilter (pruned at listing, never
  * scanned). Layers are bounded by vacuum cadence, and a compaction
  * (rewrite-all into gen N+1) collapses them at will.
  */
private[graft] object PartGen {
  /** Layer g's directory. NOT [[ArtifactGen.dir]]'s `_gen=g`: here
    * generation 0 IS the root that plain readers list, and Spark's
    * partition discovery treats any `name=value` directory — even an
    * underscore-prefixed one — as a partition column, so `_gen=1`
    * inside a partitioned root raises a conflicting-partition-columns
    * error. A dot-prefixed, `=`-free name is invisible to every
    * listing path.
    */
  private[graft] def layerDir(root: String, g: Int): String =
    if (g == 0) root else s"$root/.gen_$g"

  /** Partition values present in layer g's directory (driver-side
    * listing, bounded by the partition count of ONE layer — the damage
    * size, not the corpus).
    */
  private[graft] def partsIn(root: String, g: Int, partCol: String): Seq[String] = {
    val d = new java.io.File(layerDir(root, g))
    Option(d.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(partCol + "="))
      .map(_.getName.stripPrefix(partCol + "=")).toSeq
  }

  /** Publish `rewritten` (holding ONLY the rewritten partitions' rows,
    * `partCol` as a data column) as the next generation layer and flip
    * the pointer. No session conf is touched and no existing file is
    * overwritten in place. Returns the new generation.
    */
  def overrideLayer(root: String, partCol: String, rewritten: DataFrame): Int = {
    val g = ArtifactGen.current(root)
    Tables.write(rewritten).mode("overwrite").partitionBy(partCol)
      .parquet(layerDir(root, g + 1))
    ArtifactGen.bump(root, g + 1)
    g + 1
  }

  /** The layered read: each partition served from the highest
    * generation that contains it.
    */
  def read(spark: SparkSession, root: String, partCol: String): DataFrame = {
    val g = ArtifactGen.current(root)
    var shadowed = Seq.empty[String]
    var out: Option[DataFrame] = None
    (g to 0 by -1).foreach { k =>
      val d = layerDir(root, k)
      val own = partsIn(root, k, partCol)
      if (own.nonEmpty) {
        val df0 = Tables.parquet(spark, d)
        val dt = df0.schema(partCol).dataType
        // typed literals keep the NOT IN a PartitionFilter
        val typed: String => Any = dt match {
          case org.apache.spark.sql.types.IntegerType => _.toInt
          case org.apache.spark.sql.types.LongType => _.toLong
          case _ => identity[String]
        }
        val df =
          if (shadowed.isEmpty) df0
          else df0.filter(!col(partCol).isin(shadowed.map(typed): _*))
        out = Some(out.map(_.unionByName(df)).getOrElse(df))
      }
      shadowed = shadowed ++ own
    }
    out.getOrElse(throw new IllegalStateException(
      s"no generation under $root holds any $partCol= partition"))
  }

  /** Reclaim the gen-0 partitions shadowed by higher layers —
    * [[ArtifactGen.reclaim]]'s lease/retention gating with this
    * object's layer-dir scheme.
    */
  def reclaimShadowed(root: String, partCol: String,
                      minAgeMs: Long = 0L): Seq[Int] = {
    val g = ArtifactGen.current(root)
    val shadowed = (1 to g).flatMap(partsIn(root, _, partCol)).distinct
    ArtifactGen.reclaim(root, g, shadowed.map(v => s"$partCol=$v"),
      minAgeMs, layerDir)
  }
}

/** Maintenance vacuum for the three tombstoned artifacts (r12 verdict
  * directive #3): the merge-on-read sidecars are correct forever but
  * grow forever — every serve pays the anti-join and the artifact
  * keeps storing rows nobody may ever see. At 100 TB with takedown
  * churn the sidecar eventually IS a table, so the same
  * compact+vacuum discipline the lakehouse log has (I15) applies
  * here: REWRITE the artifact without the tombstoned rows as a new
  * generation, reset the sidecar to empty, flip the generation
  * pointer atomically, and only then reclaim the old files.
  *
  * Result-invisible by construction: the serve reads
  * (current-generation member) ANTI-JOIN (current-generation
  * tombstones) either way — pre-vacuum that is (full index, sidecar),
  * post-vacuum (purged index, empty sidecar) — so every vacuum
  * contract row below shares its tombstoned serve's oracle VERBATIM
  * and the driver hash-proves serve equality. Post-vacuum re-deletes
  * keep working because the sidecar mechanism is untouched — new
  * tombstones land in the current generation's sidecar
  * ([[addTombstones]]), exactly as they did at generation 0.
  *
  * The contract queries operate on their OWN artifact instances
  * (same builders as the shared per-dir artifacts, separate scratch
  * roots) so vacuuming never mutates the generation-0 state the
  * D18/E21/E22 rows and their specs read.
  *
  * Scale shape: one vacuum = one scan of the member anti-join a
  * broadcast takedown-sized sidecar, writing O(survivors) — I15's
  * compaction cost, amortized over every future serve's saved
  * anti-join; between vacuums deletes stay O(|takedown|).
  */
object Vacuum {

  /** Per-vacuum receipt telemetry: (rows before, rows after, bytes
    * before, bytes after) — how the spec pins that reclaim actually
    * shrank the artifact. Keyed by `statsKey`.
    */
  private[graft] val vacuumStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Long)]()

  private[graft] def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
      else f.length
    walk(new java.io.File(path))
  }

  /** Append new tombstones to the CURRENT generation's sidecar — the
    * post-vacuum re-delete path (the mechanism a vacuum must never
    * break).
    */
  private[graft] def addTombstones(root: String, tomb: DataFrame): Unit = {
    val gd = ArtifactGen.dir(root, ArtifactGen.current(root))
    Tables.write(tomb).mode("append").parquet(s"$gd/tombstones")
  }

  /** One generation step for a keyed artifact: write `surviving` as
    * the next generation's member, an empty sidecar next to it, flip
    * the pointer, reclaim the old generation's files. `memberBytesPath`
    * is where the CURRENT member's bytes live (outside the root for
    * E21, whose generation-0 codes are E9's shared artifact — those
    * are never reclaimed, only superseded).
    */
  private[graft] def vacuumMember(spark: SparkSession, root: String,
                                  member: String, surviving: DataFrame,
                                  tombEmpty: DataFrame,
                                  memberBytesPath: String,
                                  reclaimGen0Member: Boolean,
                                  statsKey: String): Unit = {
    val g = ArtifactGen.current(root)
    val gd = ArtifactGen.dir(root, g)
    val rowsBefore = Tables.parquet(spark, memberBytesPath).count()
    val bytesBefore =
      bytesUnder(memberBytesPath) + bytesUnder(s"$gd/tombstones")
    val nd = ArtifactGen.dir(root, g + 1)
    Tables.write(surviving).mode("overwrite").parquet(s"$nd/$member")
    Tables.write(tombEmpty.limit(0)).mode("overwrite").parquet(s"$nd/tombstones")
    ArtifactGen.bump(root, g + 1)
    val reclaimMembers =
      if (reclaimGen0Member) Seq(member, "tombstones") else Seq("tombstones")
    // immediate reclaim (minAge 0) is sound HERE because every vacuum
    // root is a freshly built private instance served strictly after
    // the flip — no reader can hold a pre-flip listing. Multi-session
    // roots must serve under ArtifactGen.acquireLease and/or reclaim
    // with a retention age; deferred generations are swept later by
    // [[reclaimDeferred]] (r13 verdict directive #1, Round14Spec).
    ArtifactGen.reclaim(root, g + 1, reclaimMembers)
    val rowsAfter = Tables.parquet(spark, s"$nd/$member").count()
    val bytesAfter =
      bytesUnder(s"$nd/$member") + bytesUnder(s"$nd/tombstones")
    vacuumStats.put(statsKey, (rowsBefore, rowsAfter, bytesBefore, bytesAfter))
    ()
  }

  // ---------------- D19: band-index vacuum ----------------

  /** The vacuum instance of D18's artifact: band-signature index +
    * takedown sidecar (the same builders as the shared artifact),
    * vacuumed immediately — the contract row serves FROM the
    * generation-1 files.
    */
  private[graft] def bandVacuumRoot(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"vacuum.band:$dir") {
      val root = graft.Scratch.dir("band_tombstone_vac")
      Tables.write(Dedup.bandSignatures(spark, dir))
        .mode("overwrite").parquet(s"$root/index")
      Tables.write(Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 3)
        .select("doc_id")).mode("overwrite").parquet(s"$root/tombstones")
      val tomb = Tables.parquet(spark, s"$root/tombstones")
      val surviving = Tables.parquet(spark, s"$root/index")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
      vacuumMember(spark, root, "index", surviving, tomb,
        s"$root/index", reclaimGen0Member = true, statsKey = s"band:$dir")
      root
    }

  /** D19 — `dedup_tombstone_vacuum`: D18's serve over the VACUUMED
    * band index (purged member + empty sidecar) — shares D18's oracle
    * verbatim, so the driver hash-proves a vacuum is result-invisible.
    */
  def dedupTombstoneVacuum(spark: SparkSession, dir: String): DataFrame =
    Dedup2.tombstoneServeFrom(spark, dir, bandVacuumRoot(spark, dir))

  // ---------------- E24: PQ code-table vacuum ----------------

  private[graft] def pqVacuumRoot(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"vacuum.pq:$dir") {
      val root = graft.Scratch.dir("pqdelete_vac")
      Tables.write(Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 10 === 3)
        .select("vec_id")).mode("overwrite").parquet(s"$root/tombstones")
      val base = Similarity.pqIndexPath(spark, dir)
      val tomb = Tables.parquet(spark, s"$root/tombstones")
      val surviving = Tables.parquet(spark, s"$base/codes")
        .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      // generation-0 codes are E9's SHARED artifact — superseded for
      // this root, never reclaimed (E5/E9/E12 keep serving them)
      vacuumMember(spark, root, "codes", surviving, tomb,
        s"$base/codes", reclaimGen0Member = false, statsKey = s"pq:$dir")
      root
    }

  /** E24 — `ann_index_vacuum`: E21's ADC serve over the VACUUMED code
    * table — shares E21's oracle verbatim (frozen codebook, purged
    * codes ≡ codes minus sidecar).
    */
  def annIndexVacuum(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqDeleteServeFrom(spark, dir, pqVacuumRoot(spark, dir))

  // ---------------- E25: graph edge-artifact vacuum ----------------

  private[graft] def graphVacuumRoot(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"vacuum.graph:$dir") {
      val root = graft.Scratch.dir("graph_tombstone_vac")
      val embs = graft.tables.Tables.embeddings(spark, dir)
      Tables.write(embs.filter(col("vec_id") % 10 === 3)
        .select("vec_id")).mode("overwrite").parquet(s"$root/tombstones")
      val tomb = Tables.parquet(spark, s"$root/tombstones")
      // the graph's surviving view is the bridge-REPAIRED edge set
      // (E22's rule), not a plain anti-join — the vacuum persists it.
      // The CUMULATIVE deleted set rides along as its own member —
      // edges no longer witness membership (a survivor's absence from
      // the corpus mask must not depend on graph reachability), and a
      // takedown system keeps its ledger anyway. Written BEFORE the
      // pointer flip inside vacuumMember, same crash argument as the
      // member itself.
      val edgesDf = GraphAnn.edgesArtifact(spark, dir)
      val (repaired, _) =
        GraphAnn.repairedEdges(edgesDf, embs, col("vec_id") % 10 === 3)
      Tables.write(tomb).mode("overwrite")
        .parquet(s"${ArtifactGen.dir(root, 1)}/deleted")
      // the generation-0 member is the SHARED edge artifact (E15/E17's
      // files) — recover its directory for the before-accounting;
      // superseded for this root, never reclaimed
      val edgesPath = new java.io.File(
        new java.net.URI(edgesDf.inputFiles.head)).getParent
      vacuumMember(spark, root, "edges", repaired, tomb,
        edgesPath, reclaimGen0Member = false,
        statsKey = s"graph:$dir")
      root
    }

  /** E25 — `ann_graph_vacuum`: E22's greedy serve over the PERSISTED
    * vacuumed graph (repaired edges read back from parquet, entries
    * from the surviving corpus) — shares E22's oracle verbatim.
    */
  def annGraphVacuum(spark: SparkSession, dir: String): DataFrame =
    GraphAnn.graphDeleteServeFrom(spark, dir, graphVacuumRoot(spark, dir))

  /** Deferred-reclaim maintenance sweep: rerun the reclaim for every
    * generation below the current pointer — generations a live lease
    * or the retention window deferred at vacuum time get their bytes
    * back HERE, once the lease closes / the age clears. Returns what
    * is still deferred (rerun later). The lakehouse split between
    * `VACUUM` (logical) and physical file GC.
    */
  def reclaimDeferred(root: String, members: Seq[String],
                      minAgeMs: Long = 0L): Seq[Int] =
    ArtifactGen.reclaim(root, ArtifactGen.current(root), members, minAgeMs)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_tombstone_vacuum" -> (dedupTombstoneVacuum _),
    "ann_index_vacuum" -> (annIndexVacuum _),
    "ann_graph_vacuum" -> (annGraphVacuum _))

  /** Each vacuum row shares its tombstoned serve's oracle VERBATIM —
    * vacuum is storage maintenance, not a semantic operation, and the
    * shared oracle is what lets the driver hash-prove that.
    */
  val oracles: Map[String, String] = Map(
    "dedup_tombstone_vacuum" -> Dedup2.oracles("dedup_tombstone"),
    "ann_index_vacuum" -> Similarity.oracles("ann_index_delete"),
    "ann_graph_vacuum" -> GraphAnn.oracles("ann_graph_delete"))
}
