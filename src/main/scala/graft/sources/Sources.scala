package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.tables.Tables

/** Ingestion / sink surface — SURVEY.md §2.I.
  *
  * The reference ingests via daily REST pulls and lands rows in postgres
  * with INSERT + next-day UPDATE (straslerj/mlb-win-predictor
  * src/function.py:552,624,480). The Spark-native equivalents:
  *
  *  - JSON-lines / CSV readers with explicit schemas (never
  *    inferSchema on a 100 TB path — one pass saved, types stable),
  *  - date-partitioned parquet sinks whose partition column reaches the
  *    directory layout (partition pruning at read),
  *  - append-only incremental batches + a latest-wins merged VIEW (the
  *    UPDATE-free formulation of late-arriving labels: immutable writes,
  *    merge-on-read).
  *
  * Invariant: no Spark job runs to learn a schema or a watermark. Parquet
  * reads go through [[graft.tables.Tables.parquet]]; batch ids come from
  * the partition listing ([[committedIds]]) and a base's watermark from
  * a direct parquet-hadoop read of its `meta` file ([[watermark]]).
  */
object Sources {

  /** JSON-lines ingest with explicit schema. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJson(df: DataFrame, path: String): Unit =
    Tables.write(df).mode("overwrite").json(path)

  /** CSV ingest: header + explicit schema (no inference pass). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    Tables.write(df).mode("overwrite").option("header", "true").csv(path)

  /** Columnar ORC round-trip (Spark bundles native ORC support) — the
    * second columnar interchange format a warehouse migration meets.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    Tables.write(df).mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Plain text-lines sink/source (`spark.read.text`) — the raw-corpus
    * interchange format every text pipeline starts from. One line per
    * record; structure is the reader's problem (here: key TAB payload).
    */
  def writeText(df: DataFrame, path: String): Unit =
    Tables.write(df).mode("overwrite").text(path)

  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** I13 — sort-keyed parquet layout: range-partition on the hot filter
    * key and sort within partitions before writing, so every row group's
    * min/max footer statistics span a TIGHT key interval and a range
    * predicate prunes whole row groups without reading them. This is the
    * other half of the 100 TB scan-pruning story: partition pruning (I3)
    * skips directories, the sorted layout skips WITHIN files. The small
    * `parquet.block.size` here forces many row groups at test scale so
    * the effect is measurable; production keeps the default ~128 MB
    * groups and the same clustering write.
    */
  def writeSortedLayout(df: DataFrame, sortCol: String, path: String,
                        blockBytes: Int = 16 * 1024): Unit =
    Tables.write(df.repartitionByRange(4, col(sortCol)).sortWithinPartitions(sortCol))
      .mode("overwrite")
      .option("parquet.block.size", blockBytes).parquet(path)

  /** 16-bit Morton (Z-order) interleave of two integral columns: bits of
    * `a` land at even positions, `b` at odd, so sorting by the key
    * clusters rows that are close in BOTH dimensions — the multi-column
    * generalization of [[writeSortedLayout]]'s single-key clustering
    * (what table formats run for OPTIMIZE ZORDER BY). Pure builtin
    * shift/mask arithmetic, fully codegen'd; inputs must fit 16 bits.
    */
  def mortonKey(a: Column, b: Column): Column = {
    def spread16(c: Column): Column = {
      val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))
  }

  /** Smallest long `v` per hash-partition class: `slots(j)` satisfies
    * `pmod(hash(v), parts) == j` under Spark's Murmur3 `hash` — the same
    * function `repartition(parts, col)` routes on, so tagging a row with
    * `slots(j)` sends it EXACTLY to partition j. One bounded driver job
    * (≤ 64·parts tiny rows, deterministic: Murmur3 is seed-42 fixed),
    * letting a range-bucketed write keep each contiguous key range in
    * its own task without RangePartitioner's per-run sampling seed.
    */
  private[graft] def hashSlots(spark: SparkSession, parts: Int): Array[Long] = {
    val rows = spark.range(0, parts.toLong * 64)
      .select(pmod(hash(col("id")), lit(parts)).as("p"), col("id"))
      .groupBy("p").agg(min("id").as("v")).collect()
    val m = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(m.size == parts,
      s"hash-preimage search covered ${m.size} of $parts partition classes")
    Array.tabulate(parts)(m)
  }

  /** Globally clustered layout at FULL write parallelism with a
    * DETERMINISTIC row→file assignment (the round-5 writer was a
    * single-task `repartition(1)` global sort — byte-deterministic but
    * exactly the operator shape that never finishes at 100 TB):
    *
    *  1. bucket boundaries = approx-quantile values of the cluster key,
    *     collected once and inlined as LITERALS (the DistRank
    *     `sliceByKey` trick — a deterministic ε=0.001 sketch, never
    *     `repartitionByRange`'s per-instantiation sampled+seeded
    *     boundaries, which made footer-stat comparisons flaky),
    *  2. rows route to buckets via a binary-search `when` tree
    *     (O(log buckets) comparisons/row, codegen'd),
    *  3. each bucket is tagged with its [[hashSlots]] pre-image so the
    *     hash `repartition` places every contiguous key range in its own
    *     task — no two ranges share a file, so no row group straddles a
    *     range gap,
    *  4. tasks sort on (key, tieBreak) — tieBreak must make the sort
    *     total so the layout doesn't depend on shuffle arrival order.
    *
    * Boundary quality only affects file-size balance, never the footer
    * stats' tightness within a file.
    */
  private def writeClustered(df: DataFrame, key: Column, path: String,
                             blockBytes: Int, tieBreak: Seq[String]): Unit = {
    val spark = df.sparkSession
    val parts = math.max(2, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val keyed = df.withColumn("_ckey", key)
    val probs = (1 until parts).map(_.toDouble / parts).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else keyed.stat.approxQuantile("_ckey", probs, 0.001).distinct.sorted
    def bucket(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(col("_ckey") > lit(bounds(mid)), bucket(mid + 1, hi))
          .otherwise(bucket(lo, mid))
      }
    val slots = hashSlots(spark, bounds.length + 1)
    val slot =
      if (bounds.isEmpty) lit(slots(0))
      else element_at(array(slots.toIndexedSeq.map(lit(_)): _*),
        bucket(0, bounds.length) + 1)
    Tables.write(keyed.withColumn("_slot", slot)
      .repartition(bounds.length + 1, col("_slot"))
      .sortWithinPartitions(("_ckey" +: tieBreak).map(col): _*)
      .drop("_ckey", "_slot"))
      .mode("overwrite")
      .option("parquet.block.size", blockBytes).parquet(path)
  }

  /** Max of both clustering dims as one bounded driver aggregate (real
    * optimizers read these from table stats; callers share the result
    * with [[writeZorderLayout]] so the table is scanned once).
    */
  def clusterMaxes(df: DataFrame, colA: String, colB: String): (Long, Long) = {
    val m = df.agg(max(col(colA)).cast("long"), max(col(colB)).cast("long")).head()
    require(!m.isNullAt(0) && !m.isNullAt(1),
      s"clusterMaxes($colA, $colB): empty input or all-null keys — " +
        "a clustered layout needs at least one non-null key value")
    (math.max(m.getLong(0), 1L), math.max(m.getLong(1), 1L))
  }

  /** Write `df` clustered on the Z-order key of two columns: sort by the
    * interleaved key, then drop it — the key is a layout device, not
    * data (the projection after the sort keeps row order). Each
    * dimension is first scaled to the full 16-bit domain
    * (v·65535 div max) — WITHOUT normalization a wider dimension owns
    * the high interleave bits and the key degenerates to a single-key
    * sort on it. Row groups then carry tight min/max on BOTH dimensions,
    * so a 2-D box predicate skips groups the single-key sort must read.
    */
  def writeZorderLayout(df: DataFrame, colA: String, colB: String,
                        path: String, blockBytes: Int = 8 * 1024,
                        maxes: Option[(Long, Long)] = None,
                        tieBreak: Seq[String] = Nil): Unit = {
    val (mA, mB) = maxes.getOrElse(clusterMaxes(df, colA, colB))
    def scaled(c: String, mx: Long): Column =
      expr(s"CAST($c AS BIGINT) * 65535 div $mx")
    writeClustered(df, mortonKey(scaled(colA, mA), scaled(colB, mB)),
      path, blockBytes, tieBreak)
  }

  /** The single-key control for the z-order comparison: same writer,
    * same granularity, clustered on `colA` alone.
    */
  def writeSingleKeyLayout(df: DataFrame, colA: String, path: String,
                           blockBytes: Int = 8 * 1024,
                           tieBreak: Seq[String] = Nil): Unit =
    writeClustered(df, col(colA), path, blockBytes, tieBreak)

  /** The control layout: same data, same row-group granularity, input
    * order — every row group's min/max spans ~the full key range, so a
    * range predicate can prune nothing and reads everything.
    */
  def writeUnsortedLayout(df: DataFrame, path: String,
                          blockBytes: Int = 16 * 1024): Unit =
    Tables.write(df).mode("overwrite")
      .option("parquet.block.size", blockBytes).parquet(path)

  /** Date-partitioned parquet sink: `partitionBy` lands one directory per
    * day so date-filtered reads prune at the file-listing level (the
    * daily-batch layout every large pipeline uses).
    */
  def writeDatePartitioned(df: DataFrame, dateCol: String, path: String): Unit =
    Tables.write(df.withColumn("p_date", to_date(col(dateCol))))
      .mode("overwrite").partitionBy("p_date").parquet(path)

  def readDatePartitioned(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** Append one immutable batch (the INSERT of a daily run). Re-runs are
    * idempotent at the read side via [[readLatest]], not by mutating
    * storage — UPDATE-in-place doesn't exist at 100 TB.
    */
  def appendBatch(df: DataFrame, path: String, batchId: Long): Unit =
    Tables.write(df.withColumn("_batch_id", lit(batchId)))
      .mode("append").parquet(path)

  /** Idempotent batch landing: the batch id is a PARTITION and the write
    * is a dynamic-partition overwrite, so a re-delivered batch replaces
    * its own partition instead of appending a duplicate copy — the
    * storage-level exactly-once contract a streaming foreachBatch sink
    * needs (plain [[appendBatch]] double-counts on retry for any reader
    * that isn't doing latest-wins dedup).
    */
  def upsertBatch(df: DataFrame, path: String, batchId: Long): Unit =
    Tables.write(df.withColumn("_batch_id", lit(batchId)))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id").parquet(path)

  /** Land SEVERAL batches in ONE write job (r15, r14 verdict directive
    * #8 — guide §6 fewer write jobs): the union carries each batch's
    * literal `_batch_id`, so the dynamic-partition overwrite lays out
    * exactly the directories N sequential [[upsertBatch]] calls would —
    * same partition values, same rows, same reader behavior — for one
    * job's scheduling/commit cost instead of N. Only for lifecycles
    * where the batches are KNOWN together (seeding, backfill): batches
    * arriving over time, or contended writers, keep using
    * [[upsertBatch]] / the stage-and-claim protocol.
    */
  def upsertBatches(batches: Seq[(DataFrame, Long)], path: String): Unit = {
    require(batches.nonEmpty, "upsertBatches needs at least one batch")
    Tables.write(batches.map { case (df, id) => df.withColumn("_batch_id", lit(id)) }
      .reduce(_.unionByName(_)))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id").parquet(path)
  }

  /** I20 — OPTIMISTIC CONCURRENCY for the batch log (round-9 directive
    * #2). The reference's real lifecycle runs TWO daily jobs against
    * one table (the INSERT job, function.py:552, and the next-day
    * UPDATE job, function.py:480) whose cron windows can overlap; with
    * caller-supplied batch ids both jobs compute "yesterday + 1" and
    * [[upsertBatch]]'s dynamic-partition overwrite makes the SECOND
    * writer silently REPLACE the first's partition — a lost write.
    * The lakehouse fix: writers STAGE the batch under a dot-prefixed
    * scratch dir (invisible to Spark's file listing), then CLAIM the
    * next batch id by atomically renaming the staged directory to
    * `_batch_id=<id>` — POSIX rename(2) is atomic and fails when the
    * target partition already holds a committed batch, so a lost race
    * is impossible: the loser's rename fails and it retries with the
    * next id. Claim and data publish are ONE operation (E13's
    * write-once generation-pointer discipline): no commit marker can
    * exist without its data, a crashed writer leaves only an invisible
    * staging dir, and committed ids stay DENSE (every claim either
    * publishes or didn't happen). On an object store without atomic
    * rename the same protocol runs on a conditional PUT
    * (if-none-match) of a per-id manifest; the filesystem rename is
    * the local-mode realization. Readers ([[readLatest]] /
    * [[readAsOf]] / [[compactLog]]) are unchanged — the layout is
    * byte-identical to [[upsertBatch]]'s.
    */
  def stageBatch(df: DataFrame, logPath: String, writerId: String): String = {
    val staged = s"$logPath/.staging/$writerId-${java.util.UUID.randomUUID()}"
    Tables.write(df).mode("overwrite").parquet(staged)
    staged
  }

  /** The committed batch ids, from the partition directory names. */
  def committedIds(logPath: String): Seq[Long] =
    Option(new java.io.File(logPath).listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_batch_id="))
      .map(_.getName.stripPrefix("_batch_id=").toLong).sorted.toSeq

  /** The CLAIM PRIMITIVE behind the optimistic commit protocol
    * (round-10 directive #6): one attempt to atomically publish a
    * staged batch as `_batch_id=<id>`. The contract every store must
    * honor:
    *
    *  - `true` — the batch is PUBLISHED under `id`: claim and data
    *    publish were ONE atomic operation (no commit marker can exist
    *    without its data);
    *  - `false` — `id` was already claimed by another writer, and the
    *    staged batch is UNTOUCHED (the caller retries the next id);
    *  - anything else THROWS: a non-conflict failure (permissions, a
    *    consumed staging dir, an unreachable store) must surface
    *    immediately, never spin through the id space — the round-9
    *    advisor's finding against the previous catch-all retry.
    *
    * [[PosixRenameStore]] realizes it as atomic rename(2);
    * [[graft.ConditionalPutStore]] (the spec double) as an
    * if-none-match conditional PUT of a per-id manifest — the
    * object-store realization. Round10cSpec runs the SAME 8-writer
    * race and dense-id suite over both.
    */
  trait CommitStore {
    /** One-time per-commit setup (directory creation, staged-batch
      * existence check) — whatever the realization needs before the
      * claim loop.
      */
    def prepare(logPath: String, stagedPath: String): Unit
    /** One atomic claim attempt; see the trait contract. */
    def tryClaim(logPath: String, stagedPath: String, id: Long): Boolean
    /** Reverse a claim this writer just won — move the batch back to
      * the staging path so the loop can retry above a concurrently
      * raised claim floor (r13 advisor: a vacuum racing the claim loop
      * can outrun a mid-loop claim; a batch published at or below the
      * floor reads as vacuumed history and is silently dropped). The
      * id is OURS — no other writer can hold it — and until the move
      * completes the batch reads as history, never as data, so there
      * is no torn intermediate. Realizations without a safe reversal
      * keep this default: failing LOUDLY beats silently losing the
      * write.
      */
    def unclaim(logPath: String, stagedPath: String, id: Long): Unit =
      throw new IllegalStateException(
        s"claimed batch id $id is at or below a concurrently raised " +
          s"claim floor and this CommitStore cannot reverse a claim — " +
          "the batch would read as vacuumed history; re-stage and retry")
  }

  /** The local-filesystem realization: POSIX rename(2) is atomic and
    * fails with EEXIST/ENOTEMPTY when the target partition already
    * holds a committed batch — exactly the conflict signal. ONLY those
    * two are conflicts; any other FileSystemException (EACCES, a
    * vanished staging dir, ENAMETOOLONG) propagates immediately.
    */
  object PosixRenameStore extends CommitStore {
    override def prepare(logPath: String, stagedPath: String): Unit = {
      require(new java.io.File(stagedPath).isDirectory,
        s"no staged batch at $stagedPath")
      java.nio.file.Files.createDirectories(new java.io.File(logPath).toPath)
    }
    override def tryClaim(logPath: String, stagedPath: String, id: Long): Boolean = {
      val target = new java.io.File(logPath, s"_batch_id=$id")
      try {
        java.nio.file.Files.move(new java.io.File(stagedPath).toPath,
          target.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        case _: java.nio.file.AtomicMoveNotSupportedException => throw
          new IllegalStateException(
            s"$logPath does not support atomic rename — use the " +
              "conditional-PUT realization of the commit protocol")
        // the two claim-conflict errnos, and ONLY them. EEXIST maps to
        // FileAlreadyExistsException, but the JDK's rename path leaves
        // ENOTEMPTY a GENERIC FileSystemException (measured on this
        // JVM: reason "Directory not empty", not
        // DirectoryNotEmptyException), so the generic arm classifies on
        // the exception's OWN errno string — NOT on post-hoc filesystem
        // state, which races both ways: a transient EIO raised at an id
        // whose target happens to exist would read as a conflict and be
        // silently skipped, and a genuine ENOTEMPTY whose winning
        // target a concurrent vacuum removes before the probe would
        // rethrow as fatal (the round-10 advisor's finding against the
        // TOCTOU isDirectory check; before that, the round-9 finding
        // against the catch-all retry)
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.DirectoryNotEmptyException => false
        case e: java.nio.file.FileSystemException
            if Option(e.getReason).exists(
              _.toLowerCase(java.util.Locale.ROOT).contains("not empty")) =>
          false
      }
    }
    override def unclaim(logPath: String, stagedPath: String, id: Long): Unit = {
      // the exact reverse of tryClaim's publish — atomic, and the only
      // mover is this writer (the id was just won here)
      java.nio.file.Files.move(
        new java.io.File(logPath, s"_batch_id=$id").toPath,
        new java.io.File(stagedPath).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
  }

  /** Claim the next free batch id for a staged batch and publish it.
    * Returns the id actually claimed (≥ the optimistic next id at call
    * time; higher exactly when a concurrent writer won the race for a
    * lower one).
    */
  def commitStaged(logPath: String, stagedPath: String): Long =
    // the claim floor keeps post-vacuum commits ABOVE the vacuumed
    // history (see vacuumLog) — without it the next id would be derived
    // from the surviving dir names alone and re-claim a vacuumed id
    commitStagedFrom(logPath, stagedPath,
      math.max(committedIds(logPath).lastOption.getOrElse(0L),
        claimFloor(logPath)) + 1)

  /** The claim loop from an explicit starting candidate — split out so
    * the contract query and specs can hand a writer a STALE candidate
    * and exercise the conflict-retry path deterministically, and
    * parameterized by the [[CommitStore]] so the object-store double
    * proves the same no-lost-write property over conditional PUTs.
    */
  private[graft] def commitStagedFrom(logPath: String, stagedPath: String,
                                      fromId: Long,
                                      store: CommitStore = PosixRenameStore): Long = {
    store.prepare(logPath, stagedPath)
    // The claim floor binds HERE, not just in commitStaged's candidate
    // derivation: a caller holding a stale candidate (the documented
    // conflict-retry path) must still never claim at or below the
    // vacuumed watermark — readCompacted's strictly-above-wm delta
    // filter would silently drop that committed batch (r12's soak bug,
    // re-found on this path by the r12 advisor).
    val start = math.max(fromId, claimFloor(logPath) + 1)
    var id = start
    var attempts = 0
    while (attempts < 100000) {
      if (store.tryClaim(logPath, stagedPath, id)) {
        // r13 advisor: the floor was read once at loop entry, so a
        // concurrent vacuumLog raising it mid-loop could be outrun by
        // a claim at or below the NEW floor — readCompacted's
        // strictly-above-watermark delta filter would then silently
        // drop this committed batch. Re-check now that the id is ours;
        // if the floor moved past it, reverse the claim (atomic, and
        // until then the id reads as vacuumed history, never as data)
        // and keep climbing from above the new floor.
        val floorNow = claimFloor(logPath)
        if (id > floorNow) return id
        store.unclaim(logPath, stagedPath, id)
        id = floorNow + 1
      } else {
        // conflict retry: re-derive from the CURRENT floor, not just
        // id+1, so a mid-loop vacuum can never be outrun by a long
        // dense-conflict run either
        id = math.max(id + 1, claimFloor(logPath) + 1)
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"commitStagedFrom: exhausted 100000 claim attempts from $start")
  }

  /** Stage + claim in one call — what a daily job actually runs. */
  def commitBatch(df: DataFrame, logPath: String, writerId: String): Long =
    commitStaged(logPath, stageBatch(df, logPath, writerId))

  /** Merge-on-read latest-wins view over appended batches: for each key,
    * the row from the highest batch id (the reference's next-day UPDATE
    * expressed as immutable append + window dedup).
    */
  def readLatest(spark: SparkSession, path: String, keyCols: Seq[String]): DataFrame =
    latestWins(Tables.parquet(spark, path), keyCols)

  /** I19 — AS-OF read over the same batch-partitioned log: latest-wins
    * restricted to `_batch_id <= asOf` — the lakehouse time-travel read
    * (VERSION AS OF) the immutable log gives for free. The predicate is
    * on the PARTITION column, so the scan prunes to the batches at or
    * before the requested version (spec-proven: PartitionFilters carry
    * it) — cost proportional to the history read, not the log.
    */
  def readAsOf(spark: SparkSession, path: String, keyCols: Seq[String],
               asOf: Long): DataFrame =
    latestWins(Tables.parquet(spark, path).filter(col("_batch_id") <= asOf), keyCols)

  /** Per key, the row of the highest `_batch_id`; drops `_batch_id`. The
    * one latest-wins fold every log read and compaction runs.
    */
  private[sources] def latestWins(log: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_batch_id").desc)
    log
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_batch_id")
  }

  // ---------------- I21: file-stats manifest (data skipping) ----------------

  /** The dot-prefixed manifest sidecar root — invisible to Spark's file
    * listing (the `.staging` trick), so manifest rows can never leak
    * into a log read.
    */
  private[graft] def manifestDir(logPath: String): String = s"$logPath/.manifest"

  /** Stage + claim + record per-file key stats in one call — the
    * data-skipping counterpart of [[commitBatch]] (round-11 directive
    * #6: I13/I14 prove min/max skipping for sorted layouts; this
    * applies it to the lakehouse LOG). Stats (min/max of the LONG
    * merge-key column per parquet file) are computed on the STAGED
    * files — rename moves, never rewrites, so the claimed batch's
    * basenames and bytes are exactly what was measured — and the
    * manifest is published to `.manifest/batch=<id>` only AFTER the
    * claim wins, keyed by the claimed id, so it can never describe a
    * batch that lost its race. A crash between claim and manifest
    * write leaves a committed batch WITHOUT a manifest — which readers
    * treat as unprunable (skipping is an optimization, never
    * load-bearing for correctness).
    */
  def commitBatchWithStats(df: DataFrame, logPath: String, writerId: String,
                           statsCol: String): Long = {
    val spark = df.sparkSession
    val staged = stageBatch(df, logPath, writerId)
    val files = Option(new java.io.File(staged).listFiles)
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    // the per-commit cost is O(files in THIS batch) footer reads
    val stats = files.toSeq.map { f =>
      val (lo, hi) = keyRange(spark, f.getAbsolutePath, statsCol)
      (f.getName, lo, hi)
    }
    val id = commitStaged(logPath, staged)
    import spark.implicits._
    Tables.write(stats.toDF("file", "min_key", "max_key").coalesce(1))
      .mode("overwrite").parquet(s"${manifestDir(logPath)}/batch=$id")
    id
  }

  /** The (min, max) of the integer column `statsCol` over one parquet
    * file: from its footer ([[footerRange]]), else from a `min`/`max` job.
    */
  private[graft] def keyRange(spark: SparkSession, file: String,
                              statsCol: String): (Long, Long) =
    footerRange(spark, file, statsCol).getOrElse {
      val r = Tables.parquet(spark, file)
        .agg(min(col(statsCol)).cast("long"), max(col(statsCol)).cast("long"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

  /** The (min, max) of `statsCol`'s non-null values in one parquet file,
    * from the row-group statistics in its footer, read in this process
    * as [[watermark]] reads its sidecar. None, and so the job, unless the
    * column is a top-level signed INT32 or INT64 column that every row
    * group holds statistics for, with at least one non-null value.
    */
  private[graft] def footerRange(spark: SparkSession, file: String,
                                 statsCol: String): Option[(Long, Long)] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    val signedInt = footer.getFileMetaData.getSchema.getFields.asScala
      .find(_.getName == statsCol).exists { f =>
        f.isPrimitive && Set(INT32, INT64)(f.asPrimitiveType.getPrimitiveTypeName) &&
          (f.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })
      }
    val path = ColumnPath.get(statsCol)
    val perGroup = footer.getBlocks.asScala.toSeq.map { b =>
      b.getColumns.asScala.find(_.getPath == path).map(_.getStatistics)
        .filter(st => st != null && !st.isEmpty)
    }
    if (!signedInt || perGroup.exists(_.isEmpty)) None
    else {
      val ranges = perGroup.flatten.filter(_.hasNonNullValue).map { st =>
        (st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue)
      }
      if (ranges.isEmpty) None else Some((ranges.map(_._1).min, ranges.map(_._2).max))
    }
  }

  /** The pruned file list for a key-range read: every committed file
    * EXCEPT those whose manifest row proves [min,max] ∩ [lo,hi] = ∅.
    * Files of batches without a manifest are always kept. The listing
    * and manifest collect are driver-side by design — this is the
    * planning step every table format (Delta/Iceberg) runs on the
    * driver, bounded by file COUNT, never data size.
    */
  private def prunedFiles(spark: SparkSession, logPath: String,
                          ids: Seq[Long], lo: Long, hi: Long): Seq[String] = {
    ids.flatMap { id =>
      val bdir = new java.io.File(logPath, s"_batch_id=$id")
      val files = Option(bdir.listFiles).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      val mf = new java.io.File(manifestDir(logPath), s"batch=$id")
      if (!mf.isDirectory) files.map(_.getAbsolutePath).toSeq
      else {
        val st = Tables.parquet(spark, mf.getAbsolutePath).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        files.toSeq.flatMap { f =>
          st.get(f.getName) match {
            case Some((mn, mx)) if mx < lo || mn > hi => None // skipped
            case _ => Some(f.getAbsolutePath)
          }
        }
      }
    }
  }

  /** [[readLatest]] with FILE-LEVEL DATA SKIPPING on a merge-key range:
    * only files whose manifest stats intersect [lo, hi] are handed to
    * the scan — pruned files are never opened, footer included. Because
    * `statsCol` must be one of the MERGE keys, every version of an
    * in-range key lives in a kept file, so latest-wins over the pruned
    * set is exactly the unpruned read's result filtered to the range
    * (Round11eSpec pins result equality AND a ≥2× scanned-file
    * reduction read off the plan).
    */
  def readLatestRange(spark: SparkSession, logPath: String, keyCols: Seq[String],
                      statsCol: String, lo: Long, hi: Long): DataFrame =
    readAsOfRange(spark, logPath, keyCols, statsCol, lo, hi, Long.MaxValue)

  /** [[readAsOf]] with the same file-level skipping — time travel and
    * data skipping compose (the id filter prunes whole batch
    * directories before the manifest is even consulted).
    */
  def readAsOfRange(spark: SparkSession, logPath: String, keyCols: Seq[String],
                    statsCol: String, lo: Long, hi: Long, asOf: Long): DataFrame = {
    require(keyCols.contains(statsCol),
      s"data skipping needs the stats column '$statsCol' to be a merge key " +
        s"(got keys $keyCols) — pruning on a non-key column could drop a " +
        "newer version of a surviving key and resurrect stale rows")
    val ids = committedIds(logPath).filter(_ <= asOf)
    val keep = prunedFiles(spark, logPath, ids, lo, hi)
    // an all-pruned range is a legitimate EMPTY result, not an error —
    // serve it as a zero-row scan of the log's own schema
    val log =
      if (keep.isEmpty) Tables.parquet(spark, logPath).filter(lit(false))
      else Tables.parquet(spark, Map("basePath" -> logPath), keep: _*)
    latestWins(log, keyCols).filter(col(statsCol).between(lo, hi))
  }

  /** I15 — compact the batch-partitioned append log into a latest-state
    * BASE. [[readLatest]]'s read amplification grows without bound at
    * daily-ETL cadence (the reference's INSERT-then-UPDATE cycle,
    * function.py:552,480, re-reads every historical batch on every
    * query); compaction rewrites the log's latest-wins resolution ONCE
    * into `basePath/base` and records the high-water batch id in a
    * one-row `meta` sidecar, after which [[readCompacted]] serves from
    * base + only the batches the compaction hasn't seen. The log itself
    * stays immutable — compaction is a pure reader-side optimization,
    * re-runnable at any time, and a crash mid-compaction leaves the old
    * base/meta pair intact (the parquet overwrite is directory-atomic
    * per _SUCCESS).
    */
  def compactLog(spark: SparkSession, logPath: String, keyCols: Seq[String],
                 basePath: String): Unit = {
    // the high-water batch id comes from the partition directory names:
    // on the upsertBatch/commitStaged layout (the only log layout
    // compaction is defined over) the max committed partition value is
    // `max(_batch_id)` over the data, for O(batches) listing work. It is
    // listed BEFORE the log is read, and the read is bounded by it, so a
    // batch committed in between stays a delta above the watermark.
    val ids = committedIds(logPath)
    require(ids.nonEmpty, s"compactLog: no batches under $logPath")
    val wm = ids.last
    val log = Tables.parquet(spark, logPath).filter(col("_batch_id") <= wm)
    writeBase(spark, latestWins(log, keyCols), wm, basePath)
  }

  /** A compaction's output: the latest-wins rows as `base`, each stamped
    * `_batch_id = wm`, and `wm` as the one-row `meta` sidecar.
    */
  private def writeBase(spark: SparkSession, latest: DataFrame, wm: Long,
                        basePath: String): Unit = {
    Tables.write(latest.withColumn("_batch_id", lit(wm)))
      .mode("overwrite").parquet(s"$basePath/base")
    import spark.implicits._
    Tables.write(Seq(wm).toDF("_watermark")).mode("overwrite").parquet(s"$basePath/meta")
  }

  /** The watermark a compaction recorded in `basePath/meta`, read in this
    * process with parquet-hadoop's record reader: the sidecar is one row
    * of one long, so a Spark job would cost far more than the read.
    */
  private[graft] def watermark(spark: SparkSession, basePath: String): Long = {
    val meta = new Path(s"$basePath/meta")
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = meta.getFileSystem(conf).listStatus(meta).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .flatMap { f =>
        val reader = ParquetReader.builder(new GroupReadSupport(), f.getPath)
          .withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).map(_.getLong(0, 0)).toList
        finally reader.close()
      }
    require(rows.size == 1, s"$meta holds ${rows.size} watermark rows, expected 1")
    rows.head
  }

  /** Latest-wins view over compacted base + post-compaction deltas: the
    * delta filter `_batch_id > watermark` is a PARTITION filter on the
    * [[upsertBatch]] layout, so already-compacted batches are pruned at
    * file-listing time — the read touches base-size + new-data bytes,
    * never the full history (Round6Spec asserts the byte shrink and the
    * partition filter from the executed plan).
    */
  def readCompacted(spark: SparkSession, basePath: String, logPath: String,
                    keyCols: Seq[String]): DataFrame = {
    val wm = watermark(spark, basePath)
    val base = Tables.parquet(spark, s"$basePath/base")
    // a fully-vacuumed log has no partitions left to read (and no files
    // to infer a schema from) — the steady state right after
    // compact+vacuum; the base alone is then the complete table
    val hasDeltas = Option(new java.io.File(logPath).listFiles)
      .exists(_.exists(f => f.isDirectory || f.getName.endsWith(".parquet")))
    val deltas =
      if (hasDeltas) Tables.parquet(spark, logPath).filter(col("_batch_id") > wm)
      else base.limit(0)
    latestWins(base.unionByName(deltas), keyCols)
  }

  /** INCREMENTAL re-compaction: fold the post-watermark deltas into the
    * existing base, producing a new base + watermark at `newBasePath`.
    * This — not [[compactLog]] — is the steady-state daily operation:
    * after a [[vacuumLog]] the raw log no longer holds the full
    * history, so a from-scratch compaction would silently lose every
    * key whose latest state lives only in the base (Round6Spec pins
    * exactly that trap). Writes to a NEW path because Spark cannot
    * safely overwrite an input it is still reading; callers alternate
    * base paths (or swap a pointer) exactly like every LSM/table-format
    * compactor.
    */
  def recompact(spark: SparkSession, basePath: String, logPath: String,
                keyCols: Seq[String], newBasePath: String): Unit =
    recompactThrough(spark, basePath, logPath, keyCols, newBasePath,
      committedIds(logPath).lastOption.getOrElse(Long.MinValue))

  /** [[recompact]] folding the deltas up to `through`, a batch id listed
    * (as in [[compactLog]]) BEFORE the log is read: the read is bounded by
    * it, so a batch committed in between is left a delta above the new
    * watermark instead of being hidden by it. Split out so a spec can
    * commit a batch between the listing and the read.
    */
  private[graft] def recompactThrough(spark: SparkSession, basePath: String,
                                      logPath: String, keyCols: Seq[String],
                                      newBasePath: String, through: Long): Unit = {
    require(new java.io.File(newBasePath).toPath.toAbsolutePath !=
      new java.io.File(basePath).toPath.toAbsolutePath,
      "recompact needs a NEW base path: Spark cannot overwrite an input in place")
    val wm0 = watermark(spark, basePath)
    val wm = math.max(wm0, through)
    val all = Tables.parquet(spark, s"$basePath/base")
      .unionByName(Tables.parquet(spark, logPath)
        .filter(col("_batch_id") > wm0 && col("_batch_id") <= wm))
    writeBase(spark, latestWins(all, keyCols), wm, newBasePath)
  }

  /** Storage reclaim for the compacted log (the VACUUM half of the
    * lifecycle): batch partitions at or below the base's watermark are
    * fully represented in `basePath/base`, so their directories can be
    * DELETED — [[readCompacted]] never lists them (its delta filter is
    * strictly above the watermark), and only then does compaction
    * actually return the space the merged history occupied. Returns the
    * number of partition directories removed. Readers of the RAW log
    * ([[readLatest]]) lose history by design — after a vacuum, the
    * compacted read path is the only complete one, which is why the
    * watermark is read from the base's own sidecar rather than trusted
    * from the caller.
    */
  def vacuumLog(spark: SparkSession, logPath: String, basePath: String): Int = {
    val wm = watermark(spark, basePath)
    // CLAIM FLOOR, written BEFORE any directory is removed (r12 — found
    // by the multi-day soak spec): id sequencing reads the log's
    // surviving directory names, so once vacuum deletes
    // _batch_id=1..wm a LATER commit would claim id 1 again — at or
    // below the watermark — and readCompacted's strictly-above-wm
    // delta filter would silently drop it: a committed batch invisible
    // to every compacted read, data loss at read time. The floor file
    // pins the sequencer above the vacuumed history forever;
    // write-before-delete means a crash mid-vacuum can only leave the
    // floor SET with some stale dirs remaining (ids stay correct, the
    // stale dirs are ≤ wm and re-vacuumable), never the reverse.
    writeClaimFloor(logPath, wm)
    val dirs = Option(new java.io.File(logPath).listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_batch_id=") &&
        f.getName.stripPrefix("_batch_id=").toLong <= wm)
    def delete(f: java.io.File): Unit = {
      val kids = f.listFiles
      if (kids != null) kids.foreach(delete)
      f.delete()
      ()
    }
    dirs.foreach(delete)
    dirs.length
  }

  /** The vacuumed-history high-water mark, as a dot-prefixed sidecar in
    * the log dir itself (invisible to plain parquet readers — I21's
    * manifest discipline): the id sequencer may never claim at or below
    * it. Monotone — a floor only ever rises.
    */
  private def claimFloorFile(logPath: String) =
    new java.io.File(logPath, ".claim_floor")

  private[graft] def claimFloor(logPath: String): Long = {
    val f = claimFloorFile(logPath)
    if (f.isFile) {
      val raw = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      // A floor file that exists but does not parse means the vacuumed
      // watermark is UNKNOWN — committing anyway could reuse a vacuumed
      // id, so fail loudly naming the file rather than default to 0
      // (the atomic temp+rename write below should make this
      // unreachable; it guards manual edits and torn non-POSIX writes).
      try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"claim-floor sidecar $f is unreadable (contents: '$raw') — " +
            "the vacuumed watermark is unknown; restore it from the " +
            "compacted base's meta before committing")
      }
    } else 0L
  }

  private[graft] def writeClaimFloor(logPath: String, wm: Long): Unit = {
    val floor = math.max(claimFloor(logPath), wm)
    // Temp-file + atomic rename: a crash mid-write must never leave a
    // partial .claim_floor (claimFloor would then refuse every later
    // commit) — the same rename(2) atomicity the commit protocol itself
    // rests on.
    val tmp = java.nio.file.Files.createTempFile(
      claimFloorFile(logPath).toPath.getParent, ".claim_floor_", ".tmp")
    java.nio.file.Files.write(tmp,
      floor.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, claimFloorFile(logPath).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}

/** Queries-contract wrappers (§2.I): each round-trips real data through
  * the source/sink path in a scratch dir and returns the read-back frame
  * (rows-only driver check; equality is test-asserted in SourcesSpec).
  */
object SourceQueries {
  import graft.tables.Tables

  private def scratch(name: String): String =
    graft.Scratch.dir(s"src_$name")

  def srcJsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val path = scratch("json")
    Sources.writeJson(orders, path)
    Sources.readJson(spark, path, orders.schema).orderBy("o_orderkey")
  }

  def srcCsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val path = scratch("csv")
    Sources.writeCsv(nation, path)
    Sources.readCsv(spark, path, nation.schema).orderBy("n_nationkey")
  }

  def srcOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val supplier = Tables.supplier(spark, dir)
    val path = scratch("orc")
    Sources.writeOrc(supplier, path)
    Sources.readOrc(spark, path).orderBy("s_suppkey")
  }

  def srcPartitionedSink(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("part")
    Sources.writeDatePartitioned(Tables.orders(spark, dir), "o_orderdate", path)
    Sources.readDatePartitioned(spark, path)
      .groupBy(date_format(col("p_date"), "yyyy-MM-dd").as("p_date"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("p_date")
  }

  /** I5 — raw text-lines round-trip: documents serialized "id TAB text"
    * (the corpus has no tabs/newlines — spec-asserted), read back with
    * `spark.read.text` and re-split on the FIRST tab only. Order and
    * file boundaries don't survive a text sink; keys must ride in the
    * payload — exactly what this exercises.
    */
  def srcTextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val path = scratch("text")
    Sources.writeText(
      docs.select(concat_ws("\t", col("doc_id"), col("text")).as("value")), path)
    Sources.readText(spark, path)
      .select(split(col("value"), "\t", 2).as("kv"))
      .select(col("kv").getItem(0).cast("long").as("doc_id"),
        col("kv").getItem(1).as("text"))
      .orderBy("doc_id")
  }

  /** I13 — writes BOTH layouts (sorted-by-key and input-order control)
    * ONCE per JVM per sf dir and returns their paths; shared by the
    * contract query and the footer-statistics spec so they audit the
    * same files.
    */
  def sortedLayoutPaths(spark: SparkSession, dir: String): (String, String) =
    graft.QueryCaches.memo(s"src.layout:$dir") {
      val li = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
      val base = scratch("layout")
      Sources.writeSortedLayout(li, "l_extendedprice", s"$base/sorted")
      Sources.writeUnsortedLayout(li, s"$base/unsorted")
      (s"$base/sorted", s"$base/unsorted")
    }

  /** The price-band read over the SORTED layout — values must equal the
    * same select on the original table (the oracle); the row-group
    * pruning the layout buys is asserted from the parquet footers in
    * Round5Spec over the same write-once files.
    */
  def srcSortedLayout(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, sortedLayoutPaths(spark, dir)._1)
      .filter(col("l_extendedprice") >= lit(30000.0) &&
        col("l_extendedprice") <= lit(31000.0))
      .orderBy("l_orderkey", "l_linenumber")

  private def zorderCols = Seq(
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")

  /** The 2-D box, derived from the table's own key range so one fixed
    * oracle works at every scale factor: the middle HALF of partkeys ×
    * a ~4% suppkey band. Integer `div` replays as DuckDB `//`. The
    * maxes are a bounded driver collect (2 longs) so the scan predicate
    * stays literal — pushed to the parquet reader, prunable by footer
    * stats.
    */
  def zorderBoxFrom(mp: Long, ms: Long): (Long, Long, Long, Long) =
    (mp / 4, 3 * mp / 4, ms / 10, ms / 10 + ms / 25)

  /** Write-once z-order state: layout under test, single-key control,
    * and the cluster maxes (one stats scan feeds the writers'
    * normalization AND the contract box — collected once per JVM).
    */
  private case class ZLayout(zorder: String, partkey: String, mp: Long, ms: Long)

  private def zorderLayout(spark: SparkSession, dir: String): ZLayout =
    graft.QueryCaches.memo(s"src.zlayout:$dir") {
      val li = Tables.lineitem(spark, dir).select(zorderCols.map(col): _*)
      val (mp, ms) = Sources.clusterMaxes(li, "l_partkey", "l_suppkey")
      val base = scratch("zlayout")
      val tie = Seq("l_orderkey", "l_linenumber")
      Sources.writeZorderLayout(li, "l_partkey", "l_suppkey", s"$base/zorder",
        maxes = Some((mp, ms)), tieBreak = tie)
      Sources.writeSingleKeyLayout(li, "l_partkey", s"$base/partkey",
        tieBreak = tie)
      ZLayout(s"$base/zorder", s"$base/partkey", mp, ms)
    }

  def zorderBox(spark: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val z = zorderLayout(spark, dir)
    zorderBoxFrom(z.mp, z.ms)
  }

  /** Z-order layout under test plus the single-key-sorted CONTROL (the
    * footer-statistics spec audits both).
    */
  def zorderLayoutPaths(spark: SparkSession, dir: String): (String, String) = {
    val z = zorderLayout(spark, dir)
    (z.zorder, z.partkey)
  }

  /** I14 — the 2-D box read over the Z-ORDERED layout: a wide partkey
    * band × a narrow suppkey band, the access pattern single-key
    * clustering cannot serve (a partkey sort leaves every surviving
    * group spanning all suppkeys). Values must equal the same select on
    * the original table (the oracle); the two-dimensional row-group
    * pruning is asserted from parquet footers in Round5Spec against the
    * partkey-sorted control.
    */
  def srcZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val z = zorderLayout(spark, dir)
    val (pLo, pHi, sLo, sHi) = zorderBoxFrom(z.mp, z.ms)
    Tables.parquet(spark, z.zorder)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** I15 — the full compaction lifecycle: two daily batches land
    * (PENDING, then final statuses — I4's scenario on the PARTITIONED
    * [[Sources.upsertBatch]] layout), the log compacts into a
    * latest-state base, a third late-correction batch lands AFTER
    * compaction, and the read serves base + new delta only. The oracle
    * is the final state computed directly from `orders` — compaction
    * must be result-invisible.
    */
  /** I16 — `corpus_shard`: the curated corpus written as TRAINING
    * SHARDS — the hand-off artifact between a data pipeline and a
    * trainer's data loader. Shard assignment is a deterministic hash
    * draw (RollHash64("shard|"+doc_id) mod N — order-independent,
    * replayable, no RNG), the layout is a `partitionBy("shard")`
    * parquet sink (each shard is its own directory a loader rank reads
    * in isolation — spec-pinned partition pruning), and the MANIFEST
    * the contract query returns is aggregated FROM THE WRITTEN LAYOUT,
    * so the oracle hash-proves the physical round-trip (E9's
    * read-what-you-wrote discipline applied to the corpus itself).
    * Write-once per JVM per sf dir, like the other layout artifacts.
    */
  /** The shared shard-layout core: the ONE definition of the hash draw,
    * the row projection, and the partitionBy sink — I16 and I17 differ
    * only in the extra accounting columns, so the assignment policy
    * cannot drift between the two artifacts (packBins' discipline
    * applied to the shard writer).
    */
  /** The shard row projection — doc identity, token accounting, and
    * the deterministic hash-draw assignment — shared by the batch
    * layouts (I16/I17) and the STREAMING router (G17), so the
    * assignment policy cannot drift between the written shards and the
    * live route.
    */
  private[graft] def shardRouteCols(nshards: Int): Seq[org.apache.spark.sql.Column] =
    Seq(col("doc_id"), col("lang"),
      size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).cast("long").as("n_tokens"),
      pmod(graft.functions.VectorOps.rollhash64(
        concat(lit("shard|"), col("doc_id").cast("string"))),
        lit(nshards.toLong)).as("shard"))

  /** The DUAL-accounting shard row (round-9 directive #5): I17's
    * subword column added to the shared route projection — ONE
    * definition consumed by both the batch layout (I17) and the
    * streaming router (G17), so the streamed manifest carries the same
    * dual accounting the batch hand-off does and the two can never
    * drift.
    */
  private[graft] def shardRouteColsBpe(nshards: Int): Seq[org.apache.spark.sql.Column] = {
    val base = shardRouteCols(nshards)
    base.dropRight(1) ++
      Seq(graft.ops.Bpe.bpeCountCol("text").as("n_bpe_tokens")) :+ base.last
  }

  private def shardLayoutPath(spark: SparkSession, dir: String,
                              artifact: String, nshards: Int,
                              extraCols: Seq[org.apache.spark.sql.Column]): String =
    graft.QueryCaches.memo(s"src.$artifact:$dir:$nshards") {
      val path = scratch(artifact)
      val base = shardRouteCols(nshards)
      Tables.write(Tables.documents(spark, dir)
        .select(base.dropRight(1) ++ extraCols :+ base.last: _*))
        .mode("overwrite").partitionBy("shard").parquet(path)
      path
    }

  /** The shared manifest aggregate over a written shard layout. */
  private def shardManifest(spark: SparkSession, path: String,
                            tokenSums: Seq[String]): DataFrame =
    Tables.parquet(spark, path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        tokenSums.map(c => sum(c).as(c)) :+
          countDistinct(col("lang")).as("n_langs"): _*)
      .orderBy("shard")

  def corpusShardPath(spark: SparkSession, dir: String,
                      nshards: Int = 8): String =
    shardLayoutPath(spark, dir, "corpus_shard", nshards, Nil)

  def corpusShard(spark: SparkSession, dir: String): DataFrame =
    shardManifest(spark, corpusShardPath(spark, dir), Seq("n_tokens"))

  /** I17 — `corpus_shard_bpe`: I16's training shards with the manifest
    * budgeted in BOTH accountings — whitespace AND BPE subword tokens
    * (F19's frozen-vocab fold; the loader budgets in subwords, so a
    * whitespace-only manifest mis-sizes every rank's read plan
    * 1.3-2×). Same deterministic hash-draw shard assignment, same
    * `partitionBy("shard")` write-once layout, manifest aggregated
    * FROM THE WRITTEN LAYOUT (the physical round-trip stays
    * hash-proved); the per-doc BPE count is one extra pure-projection
    * column in the shard rows — 8 B/doc of manifest truth the trainer
    * would otherwise recompute corpus-wide.
    */
  def corpusShardBpePath(spark: SparkSession, dir: String,
                         nshards: Int = 8): String =
    graft.QueryCaches.memo(s"src.corpus_shard_bpe:$dir:$nshards") {
      val path = scratch("corpus_shard_bpe")
      Tables.write(Tables.documents(spark, dir).select(shardRouteColsBpe(nshards): _*))
        .mode("overwrite").partitionBy("shard").parquet(path)
      path
    }

  def corpusShardBpe(spark: SparkSession, dir: String): DataFrame =
    shardManifest(spark, corpusShardBpePath(spark, dir),
      Seq("n_tokens", "n_bpe_tokens"))

  /** I18 — `src_bucketed_corpus`: the write-once bucketed corpus
    * layout — A22's machinery applied to `documents`, the 100 TB
    * answer for the dedup-family joins' fact-side shuffle. The corpus
    * is written `bucketBy(doc_id)` + `sortBy(doc_id)` ONCE; every
    * downstream doc_id-keyed join reads bucket i ⋈ bucket i with NO
    * Exchange on the corpus side — only the derived metadata frame
    * shuffles into the bucket partitioning. The contract query re-runs
    * F17's passage-clean pipeline (`Dedup2.passageCleanOf`) over the
    * bucketed table and shares F17's oracle VERBATIM, so the driver
    * hash-proves layout invariance at every SF; the spec proves the
    * wide token-scan side of the rebuild join is Exchange-free. At
    * 100 TB this converts the one all-corpus shuffle left in the
    * positional-dedup chain — the KB-wide token arrays moving to meet
    * their span lists — into an affected-docs-sized one, paid once at
    * write time and amortized over every doc_id-keyed consumer
    * (D10's survivor join, F17's rebuild, any per-doc enrichment).
    * 8 buckets ≙ thousands at production scale.
    */
  private val bucketedSeq = new java.util.concurrent.atomic.AtomicInteger()

  private[graft] def bucketedDocuments(spark: SparkSession, dir: String): DataFrame = {
    // table name is dir-scoped (a fresh per-JVM sequence number, memoized
    // per dir — collision-free where a dir-hashCode suffix is not) so a
    // mid-JVM testdata switch can never serve the other dir's layout; the
    // memo makes the write once per context (repeat passes measure the
    // read path, which is the production situation — the layout is paid
    // at ingest)
    val t = graft.QueryCaches.memo(s"src.bucketed_docs:$dir") {
      val name = s"g_documents_bucketed_${bucketedSeq.incrementAndGet()}"
      Tables.saveBucketed(Tables.documents(spark, dir), name, "doc_id")
      name
    }
    spark.table(t)
  }

  def srcBucketedCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup2.passageCleanOf(bucketedDocuments(spark, dir), 10)

  def srcCompact(spark: SparkSession, dir: String): DataFrame = {
    val log = scratch("compactlog")
    val base = scratch("compactbase")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    // r15: the two pre-compaction seed batches land in ONE write job —
    // layout and rows identical to two sequential upserts (see
    // upsertBatches); batch 3 stays separate, it must arrive AFTER the
    // compaction to exercise the post-watermark delta path
    Sources.upsertBatches(Seq(
      orders.withColumn("o_orderstatus", lit("PENDING")) -> 1L,
      orders -> 2L), log)
    Sources.compactLog(spark, log, Seq("o_orderkey"), base)
    Sources.upsertBatch(orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("SHIPPED")), log, 3L)
    Sources.readCompacted(spark, base, log, Seq("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** I19 — `src_time_travel`: the VERSION-AS-OF read over the upsert
    * log — three day-batches land (all-PENDING, final statuses, the
    * %10 SHIPPED correction), then EVERY version is read back AS OF
    * its batch id through [[Sources.readAsOf]] and audited by status.
    * The log is immutable, so version 2's answer is identical before
    * and after batch 3 lands — the reproducibility property that makes
    * a training-data snapshot citable ("the corpus as of day N"), and
    * the oracle replays each version's expected state directly from
    * the orders table. Partition pruning keeps the as-of scan
    * proportional to the batches read, spec-proven from the plan's
    * PartitionFilters.
    */
  def srcTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("timetravel")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    // r15: all three versions are known up front here (pure seeding —
    // nothing reads between the writes), so they land as one job
    Sources.upsertBatches(Seq(
      orders.withColumn("o_orderstatus", lit("PENDING")) -> 1L,
      orders -> 2L,
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("SHIPPED")) -> 3L), path)
    (1L to 3L).map { b =>
      Sources.readAsOf(spark, path, Seq("o_orderkey"), b)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .select(lit(b).as("version"), col("o_orderstatus"), col("n"))
    }.reduce(_.union(_)).orderBy("version", "o_orderstatus")
  }

  /** I20 — `src_concurrent_commit`: the optimistic-concurrency commit
    * protocol exercised end to end as the reference's OVERLAPPING daily
    * jobs: a base batch lands, then the UPDATE job (status flip on the
    * %5 keys) and the INSERT job (a disjoint new key range) BOTH stage,
    * and both claim from the SAME stale next-id candidate — the update
    * job wins id 2, the insert job's claim of 2 fails on the committed
    * partition and retries to 3 (the deterministic replay of the race;
    * Round9cSpec runs the genuinely concurrent many-writer version).
    * Both batches survive — nothing is lost, ids stay dense — and the
    * result is the per-version state history [[readAsOf]] serves, so
    * the oracle hash-proves that the race left exactly the state a
    * serial execution would have.
    */
  def srcConcurrentCommit(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("cccommit")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    Sources.upsertBatch(orders.withColumn("o_orderstatus", lit("NEW")), path, 1L)
    val stale = Sources.committedIds(path).last + 1
    val updJob = Sources.stageBatch(
      orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("UPDATED")), path, "update_job")
    val insJob = Sources.stageBatch(
      orders.select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        lit("INSERTED").as("o_orderstatus")), path, "insert_job")
    val idUpd = Sources.commitStagedFrom(path, updJob, stale)
    val idIns = Sources.commitStagedFrom(path, insJob, stale)
    require(idUpd == stale && idIns == stale + 1,
      s"claim protocol drifted: update=$idUpd insert=$idIns from $stale")
    (1L to 3L).map { b =>
      Sources.readAsOf(spark, path, Seq("o_orderkey"), b)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .select(lit(b).as("version"), col("o_orderstatus"), col("n"))
    }.reduce(_.union(_)).orderBy("version", "o_orderstatus")
  }

  def srcIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("merge")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    // batch 1: all orders pending; batch 2: final statuses arrive late
    Sources.appendBatch(orders.withColumn("o_orderstatus", lit("PENDING")), path, 1L)
    Sources.appendBatch(orders, path, 2L)
    Sources.readLatest(spark, path, Seq("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** I6 — schema-evolution read: batch 1 lands with the v1 schema
    * (key, price), batch 2 adds a column (status). `mergeSchema` unions
    * the footers so one read spans both layouts, v1 rows null-filling
    * the late column — the drift every long-lived 100 TB layout
    * accumulates (the reference itself ALTERed its games table between
    * seasons). Never the default at scale: schema merging scans every
    * file footer, so production pins the superset schema in a catalog;
    * the option is for the migration read that builds it.
    */
  def srcSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("evolve")
    val o = Tables.orders(spark, dir)
    Tables.write(o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_totalprice"))
      .mode("overwrite").parquet(s"$path/b1")
    Tables.write(o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus"))
      .mode("overwrite").parquet(s"$path/b2")
    Tables.parquet(spark, Map("mergeSchema" -> "true"), s"$path/b1", s"$path/b2")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** I7 — NESTED JSON round-trip: the shape REST payloads actually have
    * (the reference's statsapi pulls return games nested under dates).
    * Orders nest per customer as an array of structs on write
    * (`collect_list(struct(..))`, sorted for determinism), come back
    * through an explicit nested schema (never inferSchema at scale —
    * saves the inference pass and pins types), and explode back to rows.
    * The oracle is the flat original: any nesting/unnesting loss, field
    * reordering, or JSON number-formatting drift breaks the hash.
    */
  def srcJsonNested(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("jsonnest")
    val o = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val nested = o.groupBy("o_custkey")
      .agg(sort_array(collect_list(struct(col("o_orderkey"), col("o_totalprice"))))
        .as("orders"))
    Sources.writeJson(nested, path)
    val schema = new StructType()
      .add("o_custkey", "long")
      .add("orders", org.apache.spark.sql.types.ArrayType(
        new StructType().add("o_orderkey", "long").add("o_totalprice", "double")))
    Sources.readJson(spark, path, schema)
      .select(col("o_custkey"), explode(col("orders")).as("o"))
      .select(col("o_custkey"), col("o.o_orderkey").as("o_orderkey"),
        col("o.o_totalprice").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** I8 — the custom DataSourceV2 connector end to end (see
    * [[RangeStatsSource]]): `spark.read.format(<class>)` plans 8
    * disjoint id-range partitions, executor tasks generate their slices
    * in parallel, and the aggregate downstream is an ordinary Spark plan
    * over the connector scan. The oracle replays the deterministic
    * generator from DuckDB's `range()` — connector decode bugs, dropped
    * slices, or double-formatting drift all break the hash.
    */
  def srcCustomSource(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.RangeStatsSource")
      .option("rows", "100000").option("slices", "8").load()
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(round(col("score") * 1000000).cast("long")).as("score_ticks"))
      .orderBy("bucket")

  /** I9 — malformed-record accounting: a feed with broken lines (wrong
    * arity, unparseable types, junk) read PERMISSIVE with a corrupt-
    * record column — rows survive, garbage is quarantined and COUNTED
    * instead of killing the job (DROPMALFORMED silently shrinks the
    * dataset; FAILFAST turns one bad API page into a dead 100 TB run).
    * Three deliberately-broken lines ride along with the real rows.
    */
  def srcCsvMalformed(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("badcsv")
    val good = Tables.orders(spark, dir)
      .select(concat_ws(",", col("o_orderkey"), col("o_orderstatus")).as("value"))
    val bad = spark.createDataFrame(
      java.util.Arrays.asList(Row("xyz,P,extra,fields"), Row("notanumber,F"), Row("garbage")),
      new StructType().add("value", "string"))
    Sources.writeText(good.unionByName(bad), path)
    val schema = new StructType()
      .add("o_orderkey", "long").add("o_orderstatus", "string")
      .add("_corrupt", "string")
    // Spark refuses corrupt-column-only queries against the raw file
    // (the parser would have to re-run per column reference with
    // inconsistent visibility); the documented contract is to
    // materialize the parse once, THEN inspect the quarantine column.
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .cache()
    parsed
      .agg(count(when(col("_corrupt").isNull, 1)).as("n_good"),
        count(col("_corrupt")).as("n_corrupt"))
  }

  /** I10 — JDBC round-trip against embedded Derby: the full write path
    * (CREATE TABLE + batched INSERTs through the Derby dialect) then a
    * RANGE-PARTITIONED parallel read back — 8 concurrent connections
    * each scanning a `c_custkey` stride, the only read shape that
    * survives a big table. Oracle = select on the original: any type
    * mapping loss (VARCHAR/CLOB, DOUBLE), row drop, or stride gap/overlap
    * in the partitioned read breaks the hash.
    */
  def srcJdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val url = Jdbc.derbyUrl(s"${scratch("jdbc")}/db")
    Jdbc.write(c, url, "customer_rt")
    val bounds = c.agg(min("c_custkey"), max("c_custkey")).head()
    Jdbc.readPartitioned(spark, url, "customer_rt", "c_custkey",
      bounds.getLong(0), bounds.getLong(1), 8)
      .orderBy("c_custkey")
  }

  /** I11 — the reference's INSERT + next-day-UPDATE lifecycle through
    * JDBC (function.py:552 INSERT, :480 UPDATE), expressed scale-safe:
    * day 1 lands every row PENDING, day 2 appends the final values as an
    * immutable batch, and the read side resolves latest-wins per key —
    * merge-on-read against the relational store, same contract as the
    * parquet I4 path. Oracle = final-state aggregate on the original.
    */
  def srcJdbcMerge(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val url = Jdbc.derbyUrl(s"${scratch("jdbcm")}/db")
    Jdbc.write(c.withColumn("c_mktsegment", lit("PENDING"))
      .withColumn("_batch_id", lit(1L)), url, "cust_seg")
    Jdbc.write(c.withColumn("_batch_id", lit(2L)), url, "cust_seg", "append")
    val bounds = c.agg(min("c_custkey"), max("c_custkey")).head()
    Sources.latestWins(Jdbc.readPartitioned(spark, url, "cust_seg", "c_custkey",
      bounds.getLong(0), bounds.getLong(1), 8), Seq("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** I12 — JDBC pushdown on the query path: the read carries a filter
    * and a 2-column projection, BOTH of which must execute inside the
    * database (WHERE + narrow SELECT on the Derby side — the JDBC analog
    * of parquet predicate pushdown + column pruning; SourcesSpec asserts
    * the `PushedFilters` plan property). Oracle = the same filtered
    * aggregate on the original table.
    */
  def srcJdbcFilter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val url = Jdbc.derbyUrl(s"${scratch("jdbcf")}/db")
    Jdbc.write(c, url, "customer_f")
    val bounds = c.agg(min("c_custkey"), max("c_custkey")).head()
    Jdbc.readPartitioned(spark, url, "customer_f", "c_custkey",
      bounds.getLong(0), bounds.getLong(1), 8)
      .filter(col("c_acctbal") > 5000.0)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
      .orderBy("c_mktsegment")
  }

  /** I21 — `src_stats_prune`: the file-stats manifest exercised end to
    * end. A PENDING base batch lands range-laid across 8 files and a %5
    * status-update batch across 4 (repartitionByRange → disjoint
    * per-file key ranges — the layout I13 proves skips; the manifest
    * carries each file's exact [min,max]), both through
    * [[Sources.commitBatchWithStats]]'s stage→stat→claim→manifest
    * path. The read asks for the FIRST QUARTER of the key space:
    * [[Sources.readLatestRange]] opens only the files whose stats
    * intersect it (Round11eSpec reads ≥2× fewer files off the plan)
    * and the per-status counts hash-prove the pruned latest-wins
    * result exact. The range bound is derived from the table
    * (max(o_orderkey) div 4) so the oracle replays it as a subquery.
    */
  def srcStatsPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("statsprune")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    Sources.commitBatchWithStats(
      orders.withColumn("o_orderstatus", lit("PENDING"))
        .repartitionByRange(8, col("o_orderkey")),
      path, "base_job", "o_orderkey")
    Sources.commitBatchWithStats(
      orders.filter(col("o_orderkey") % 5 === 0)
        .repartitionByRange(4, col("o_orderkey")),
      path, "update_job", "o_orderkey")
    val hi = orders.agg(max("o_orderkey")).head().getLong(0) / 4
    Sources.readLatestRange(spark, path, Seq("o_orderkey"), "o_orderkey", 1L, hi)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_stats_prune" -> (srcStatsPrune _),
    "src_jdbc_roundtrip" -> (srcJdbcRoundtrip _),
    "src_jdbc_merge" -> (srcJdbcMerge _),
    "src_jdbc_filter" -> (srcJdbcFilter _),
    "src_schema_evolution" -> (srcSchemaEvolution _),
    "src_csv_malformed" -> (srcCsvMalformed _),
    "src_custom_source" -> (srcCustomSource _),
    "src_json_nested" -> (srcJsonNested _),
    "src_json_roundtrip" -> (srcJsonRoundtrip _),
    "src_csv_roundtrip" -> (srcCsvRoundtrip _),
    "src_orc_roundtrip" -> (srcOrcRoundtrip _),
    "src_text_roundtrip" -> (srcTextRoundtrip _),
    "src_partitioned_sink" -> (srcPartitionedSink _),
    "src_sorted_layout" -> (srcSortedLayout _),
    "src_zorder_layout" -> (srcZorderLayout _),
    "src_compact" -> (srcCompact _),
    "src_incremental_merge" -> (srcIncrementalMerge _),
    "src_time_travel" -> (srcTimeTravel _),
    "src_concurrent_commit" -> (srcConcurrentCommit _),
    "corpus_shard" -> (corpusShard _),
    "corpus_shard_bpe" -> (corpusShardBpe _),
    "src_bucketed_corpus" -> (srcBucketedCorpus _))

  /** A faithful round-trip preserves every value, so the oracle is the
    * equivalent select on the ORIGINAL table — any sink/source corruption
    * (quoting, type coercion, partition-value encoding, merge logic)
    * surfaces as a hash mismatch.
    */
  val oracles: Map[String, String] = Map(
    // the pruned latest-wins read replayed on the source table: %5 keys
    // carry the update batch's true status, everything else PENDING,
    // restricted to the first quarter of the key space (the same
    // truncating div both engines run) — file skipping must be
    // result-invisible, which is exactly what the hash proves
    "src_stats_prune" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus
        |              ELSE 'PENDING' END AS o_orderstatus
        |  FROM orders
        |  WHERE o_orderkey BETWEEN 1 AND (SELECT max(o_orderkey) // 4 FROM orders))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_jdbc_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "src_jdbc_merge" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_jdbc_filter" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS bal_cents
        |FROM customer WHERE c_acctbal > 5000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "src_csv_malformed" ->
      """SELECT count(*) AS n_good, CAST(3 AS BIGINT) AS n_corrupt
        |FROM orders""".stripMargin,
    "src_custom_source" ->
      """SELECT CAST((i * 2654435761) % 16 AS INT) AS bucket,
        |       count(*) AS n,
        |       CAST(sum((i * 1103515245 + 12345) % 1000000) AS BIGINT) AS score_ticks
        |FROM range(100000) t(i) GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_json_nested" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "src_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "src_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "src_text_roundtrip" ->
      """SELECT doc_id, text FROM documents ORDER BY doc_id""".stripMargin,
    "src_partitioned_sink" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS p_date,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_incremental_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // each version's expected state replayed directly from orders:
    // v1 = everything pending, v2 = the table's statuses, v3 = the
    // %10 correction applied on top
    // the race's serial-equivalent state history: v1 all NEW, v2 the
    // %5 keys flipped by the update job's batch, v3 plus the insert
    // job's disjoint key range — the hash proves neither overlapping
    // writer's batch was lost
    "src_concurrent_commit" ->
      """WITH c AS (
        |  SELECT count(*) AS n_all,
        |    count(CASE WHEN o_orderkey % 5 = 0 THEN 1 END) AS n_upd
        |  FROM orders)
        |SELECT CAST(version AS BIGINT) AS version, o_orderstatus,
        |       CAST(n AS BIGINT) AS n FROM (
        |  SELECT 1 AS version, 'NEW' AS o_orderstatus, n_all AS n FROM c
        |  UNION ALL SELECT 2, 'NEW', n_all - n_upd FROM c
        |  UNION ALL SELECT 2, 'UPDATED', n_upd FROM c
        |  UNION ALL SELECT 3, 'NEW', n_all - n_upd FROM c
        |  UNION ALL SELECT 3, 'UPDATED', n_upd FROM c
        |  UNION ALL SELECT 3, 'INSERTED', n_all FROM c)
        |ORDER BY version, o_orderstatus""".stripMargin,
    "src_time_travel" ->
      """SELECT CAST(version AS BIGINT) AS version, o_orderstatus,
        |       CAST(n AS BIGINT) AS n FROM (
        |  SELECT 1 AS version, 'PENDING' AS o_orderstatus, count(*) AS n
        |  FROM orders
        |  UNION ALL
        |  SELECT 2, o_orderstatus, count(*) FROM orders GROUP BY 2
        |  UNION ALL
        |  SELECT 3,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'SHIPPED'
        |         ELSE o_orderstatus END,
        |    count(*)
        |  FROM orders GROUP BY 2)
        |ORDER BY version, o_orderstatus""".stripMargin,
    "src_compact" ->
      """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'SHIPPED'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |       COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_sorted_layout" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem
        |WHERE l_extendedprice >= 30000.0 AND l_extendedprice <= 31000.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "src_zorder_layout" ->
      """WITH b AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem, b
        |WHERE l_partkey BETWEEN mp // 4 AND 3 * mp // 4
        |  AND l_suppkey BETWEEN ms // 10 AND ms // 10 + ms // 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // the manifest the engine aggregates from the WRITTEN layout must
    // equal this direct replay of the hash assignment — any loss,
    // duplication, or misrouting in the partitioned sink round-trip
    // surfaces as a hash mismatch
    "corpus_shard" -> {
      val h = graft.ops.Dedup.wrapSql(graft.ops.Dedup.rollSql("s"))
      s"""WITH d0 AS (
         | SELECT doc_id, lang,
         |   CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
         |   'shard|' || CAST(doc_id AS VARCHAR) AS s
         | FROM documents),
         |a AS (SELECT (($h % 8) + 8) % 8 AS shard, lang, n_tokens FROM d0)
         |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // I16's replay + F19's recursive maximal-munch CTEs joined per doc
    // — the dual-accounting manifest from the written layout
    "corpus_shard_bpe" -> {
      val h = graft.ops.Dedup.wrapSql(graft.ops.Dedup.rollSql("s"))
      s"""WITH RECURSIVE ${graft.ops.Bpe.bpeCtes},
         |d0 AS (
         | SELECT doc_id, lang, 'shard|' || CAST(doc_id AS VARCHAR) AS s
         | FROM documents),
         |a AS (SELECT (($h % 8) + 8) % 8 AS shard, d0.lang,
         |        b.n_tokens, b.n_bpe
         |      FROM d0 JOIN doc_bpe b USING (doc_id))
         |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // F17's oracle VERBATIM: the bucketed layout must be result-invisible
    // (layout invariance hash-proved by the driver at every SF)
    "src_bucketed_corpus" -> graft.ops.Dedup2.oracles("corpus_passage_clean"))
}
