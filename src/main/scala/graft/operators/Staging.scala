package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncating staging for iterative / self-joined pipelines, plus
  * the matching release primitive and the loop-scope shuffle width.
  *
  * Catalyst does not recognize a self-join's two sides as one subtree
  * (no ReusedExchange), so an expensive upstream pipeline referenced
  * twice runs twice, and an iterative loop re-plans and re-executes its
  * whole history every round. Staging materializes the frame once and
  * hands downstream plans a leaf.
  *
  * Two modes, selected by `spark.graft.checkpointDir`:
  *
  *   - UNSET (default): `localCheckpoint` — blocks live in executor
  *     storage (MEMORY_AND_DISK). Fast, but NOT failure-safe: lineage
  *     is discarded, so losing an executor kills the job. Acceptable on
  *     local[n] where executor == driver.
  *   - SET to a (distributed-FS) path: reliable `Dataset.checkpoint` —
  *     blocks are files under the dir, so executor loss degrades to a
  *     re-read. The required mode for multi-hour 100 TB jobs; costs one
  *     FS write + read per staged frame.
  *
  * Neither mode registers the plan in the session `CacheManager`
  * (`persist()` does, and every later query then pays plan
  * canonicalization against the cache during lookup).
  *
  * Staged blocks are PINNED until released: a session running many
  * queries (Bench, Verify) must call `sweep` between queries.
  */
object Staging {

  /** Session conf key: when set, staging uses reliable checkpoints under
    * this directory (cluster mode); when unset, executor-local
    * checkpoints (local mode). */
  val ConfKey = "spark.graft.checkpointDir"

  // RDD ids this module itself staged — the ONLY ids sweep may release.
  // Unpersisting every persistent RDD in the session (the pre-round-5
  // behavior) silently degraded user cache()d frames and could break a
  // still-live lazily-staged frame (lineage truncated, blocks gone).
  private val stagedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Materialize `df` (now if `eager`, at first use otherwise) and
    * truncate its lineage. See the object doc for mode selection. */
  def stage(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val out = spark.conf.getOption(ConfKey) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // first caller wins: setCheckpointDir mints a fresh UUID subdir
        // per call, so re-setting it per stage would scatter files
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
    out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        stagedIds.add(l.rdd.id)
      case _ => ()
    }
    out
  }

  /** Target bytes per shuffle partition in a loop scope: AQE's own
    * advisory partition size. */
  val LoopTargetBytes: Long = 64L * 1024 * 1024

  /** Floor for [[loopWidth]]: sliver loops never narrow below this
    * (the r4-era measured sweet spot for label/rank tables on the
    * local fixtures — task-scheduling overhead dominates below the
    * floor's data volume anyway). */
  val LoopMinPartitions = 8

  /** Shuffle width for an iterated loop over `bytes` of staged data:
    * one partition per [[LoopTargetBytes]], clamped to
    * [[[LoopMinPartitions]], 65536]. A constant width would be a
    * local-mode assumption — the per-round edge-sized aggregates would
    * fan into that many reducers at 100 TB. AQE still coalesces below
    * the chosen width. */
  def loopWidth(bytes: Long): Int =
    math.ceil(bytes.toDouble / LoopTargetBytes).toLong
      .max(LoopMinPartitions.toLong).min(65536L).toInt

  /** Measured bytes of the staged leaves under `staged` (each leaf
    * counted once, so a self-joined leaf is not doubled), read on the
    * driver with no Spark job: block sizes from the block manager for
    * local checkpoints, file sizes under the checkpoint dir for
    * reliable ones. A frame with no materialized staged leaf fails:
    * its size is unknown, and counting it as 0 would pick the floor
    * width for data of any size. */
  def stagedBytes(spark: SparkSession, staged: DataFrame*): Long = {
    val rdds = staged.flatMap { df =>
      val leaves = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.filter(_.isCheckpointed)
      require(leaves.nonEmpty,
        "loop width needs eagerly staged frames: this frame has no " +
          "materialized staged leaf (stage it with Staging.stage(df, " +
          s"eager = true)):\n${df.queryExecution.analyzed}")
      leaves
    }.distinctBy(_.id)
    lazy val stored = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    rdds.map(rdd => rdd.getCheckpointFile match {
      case Some(file) =>
        val path = new org.apache.hadoop.fs.Path(file)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(path).getLength
      case None => stored.getOrElse(rdd.id, 0L)
    }).sum
  }

  /** [[loopWidth]] of the `staged` frames' [[stagedBytes]]. */
  def loopShufflePartitions(spark: SparkSession,
      staged: DataFrame*): Int = loopWidth(stagedBytes(spark, staged: _*))

  /** Run `body` with `spark.sql.shuffle.partitions` set to
    * [[loopShufflePartitions]] of the loop's eagerly staged data-heavy
    * frames, restored on exit — the caller's downstream plan keeps the
    * session default. */
  def withLoopShuffle[T](spark: SparkSession, staged: DataFrame*)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val width = loopShufflePartitions(spark, staged: _*)
    try {
      spark.conf.set(key, width.toString)
      body
    } finally spark.conf.set(key, prev)
  }

  /** [[stage]] + attach a KNOWN row count as LogicalRDD statistics
    * (via `GraftSqlBridge.withKnownStats`), so downstream joins against
    * the staged frame get a real size estimate and Catalyst makes the
    * broadcast decision itself — no hand-placed `broadcast()` hint, and
    * the decision flips to shuffle automatically when the frame
    * outgrows `autoBroadcastJoinThreshold` at scale. Use in iterated
    * loops where the per-round sliver's cardinality is already known
    * (graph label/rank tables: one row per node). `release`/`sweep`
    * work unchanged — the stats wrapper shares the staged RDD. */
  def stageWithStats(df: DataFrame, rowCount: Long,
      eager: Boolean): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.withKnownStats(
      stage(df, eager), rowCount)

  /** Release ONE staged frame's blocks (non-blocking). Matches only when
    * `staged` is directly the frame `stage` returned (its analyzed plan
    * is the checkpoint's LogicalRDD leaf itself) — derived frames are
    * deliberately not matched, so a caller can never release an upstream
    * staged frame it does not own. Dataset.unpersist is NOT equivalent:
    * it talks to the CacheManager, which never held checkpoint blocks.
    * No-op for reliable checkpoints (files, not executor blocks). */
  def release(staged: DataFrame): Unit =
    staged.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        stagedIds.remove(l.rdd.id)
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Release every RDD that THIS module staged (non-blocking). Call
    * between queries in long-lived sessions; safe because staged frames
    * are private to the query that built them — nothing holds a
    * reference across queries. RDDs persisted by anyone else (user
    * `cache()`, Spark internals) are untouched — sweeping them would
    * silently degrade frames this module does not own. Reliable-
    * checkpoint FILES are not deleted (they are the recovery story for
    * running jobs); the checkpoint dir is temp-scoped by its owner.
    *
    * Caveat (unchanged from the per-frame `release`): a LAZILY staged
    * frame that was never materialized before a sweep loses its blocks
    * AND its lineage — do not hold lazily-staged frames across sweeps. */
  def sweep(spark: SparkSession): Unit = {
    val persistent = spark.sparkContext.getPersistentRDDs
    val it = stagedIds.iterator()
    while (it.hasNext) {
      persistent.get(it.next()).foreach(_.unpersist(blocking = false))
      it.remove()
    }
  }
}
