package graft.core

import org.apache.spark.{HashPartitioner, RangePartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorMetricsUpdate, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

/** The reference's job API (`MapReduceFramework.h:18-26`) on Spark.
  *
  * `startMapReduceJob` → [[MapReduceJob.start]] (async, returns a handle),
  * `getJobState` → [[JobHandle.state]], `waitForJob` →
  * [[JobHandle.waitForJob]], `closeJobHandle` → nothing to free (GC).
  * Multiple concurrent jobs on one session are supported exactly as the
  * reference's global handle map allows (`MapReduceFramework.cpp:11,41-50`,
  * exercised by test4) — each start() spawns an independent Spark job
  * under its own job group.
  *
  * Two execution paths:
  *
  *  - [[MapReduceJob.start]] — idiomatic: `flatMap → groupByKey(hash) →
  *    flatMap(reduce)`. Spark's sort-based shuffle is the distributed
  *    version of the reference's per-thread sort + single-threaded
  *    equal-key merge (`JobContext.cpp:57-116`) with none of its Q3/Q4
  *    serialization. Requires `hashCode`/`equals` consistent with the
  *    key ordering.
  *
  *  - [[MapReduceJob.startOrderingOnly]] — exact-parity: keys need ONLY
  *    an `Ordering` (the reference's sole requirement,
  *    `MapReduceClient.h:25`; equality derived as `!(a<b) && !(b<a)`,
  *    `JobContext.cpp:102-104`). Range-partition by the ordering, sort
  *    within partitions, then detect equal-key runs per partition —
  *    `hashCode` is never consulted.
  *
  * When reduce is a commutative+associative fold, prefer
  * [[MapReduceJob.startCombining]]: `reduceByKey` adds the map-side
  * combine the reference lacks entirely (SURVEY §4.2), shrinking the
  * shuffle from all pairs to one pair per (task, key).
  */
object MapReduceJob {

  private val nextId = new AtomicLong(0)
  // Job bookkeeping runs on daemon threads so a forgotten handle never
  // blocks JVM exit (the reference leaks its pthreads the same way but
  // then pthread_cancels them in the destructor — quirk Q5).
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "mr-job")
      t.setDaemon(true)
      t
    }))

  /** Lazy plan: the job's output RDD with NO action taken. The scale
    * path — at 100 TB the client writes this to a distributed sink
    * (`plan(...).toDF.write.parquet`) instead of collecting; `start`
    * keeps the reference's collect-to-client-vector semantics
    * (`OutputVec`, `MapReduceClient.h:52`) for parity.
    */
  def plan[K1, V1, K2: ClassTag, V2: ClassTag, K3: ClassTag, V3: ClassTag](
      input: RDD[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      numPartitions: Int): RDD[(K3, V3)] =
    input
      .flatMap { case (k, v) => client.map(k, v) }
      .groupByKey(new HashPartitioner(numPartitions))
      .flatMap { case (k, vs) => client.reduce(k, vs) }

  /** Idiomatic path: hash-partitioned groupByKey, collected (reference
    * `OutputVec` semantics).
    */
  def start[K1, V1, K2: ClassTag, V2: ClassTag, K3: ClassTag, V3: ClassTag](
      spark: SparkSession,
      input: RDD[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      numPartitions: Int): JobHandle[K3, V3] =
    launch(spark) {
      plan(input, client, numPartitions)
    }

  /** Map-side-combining path for fold-style reducers. */
  def startCombining[K1, V1, K2: ClassTag, V2: ClassTag, K3: ClassTag, V3: ClassTag](
      spark: SparkSession,
      input: RDD[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      combine: (V2, V2) => V2,
      numPartitions: Int): JobHandle[K3, V3] =
    launch(spark) {
      input
        .flatMap { case (k, v) => client.map(k, v) }
        .reduceByKey(new HashPartitioner(numPartitions), combine)
        .flatMap { case (k, v) => client.reduce(k, v :: Nil) }
    }

  /** Exact-parity path: grouping uses ONLY the key ordering. */
  def startOrderingOnly[K1, V1, K2: ClassTag: Ordering, V2: ClassTag,
      K3: ClassTag, V3: ClassTag](
      spark: SparkSession,
      input: RDD[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      numPartitions: Int): JobHandle[K3, V3] =
    launch(spark) {
      val ord = implicitly[Ordering[K2]]
      val mapped = input.flatMap { case (k, v) => client.map(k, v) }
      // RangePartitioner places ordering-equal keys in one partition
      // (partition choice is a function of the ordering alone), so the
      // per-partition sorted runs contain every member of each group.
      // An empty input samples no range bounds, so it gets 1 partition.
      val parts = math.min(numPartitions, math.max(1, mapped.partitions.length))
      mapped
        .repartitionAndSortWithinPartitions(new RangePartitioner(parts, mapped))
        .mapPartitions { it =>
          // equal-key run detection under derived equality
          // !(a<b) && !(b<a) — `JobContext.cpp:102-104`
          new Iterator[(K2, Vector[V2])] {
            private val buf = it.buffered
            def hasNext: Boolean = buf.hasNext
            def next(): (K2, Vector[V2]) = {
              val (k, v) = buf.next()
              val vs = Vector.newBuilder[V2]
              vs += v
              while (buf.hasNext && ord.equiv(buf.head._1, k)) vs += buf.next()._2
              (k, vs.result())
            }
          }.flatMap { case (k, vs) => client.reduce(k, vs) }
        }
    }

  private def launch[K3, V3](spark: SparkSession)(plan: => RDD[(K3, V3)]): JobHandle[K3, V3] = {
    val groupId = s"mr-job-${nextId.getAndIncrement()}"
    val sc = spark.sparkContext
    ShuffleProgress.install(sc)
    val fut = Future {
      sc.setJobGroup(groupId, groupId, interruptOnCancel = true)
      try plan.collect()
      finally sc.clearJobGroup()
    }
    fut.onComplete(_ => ShuffleProgress.forget(groupId))
    new JobHandle(spark, groupId, fut)
  }
}

/** Live shuffle progress per job group — the analog of the reference's
  * shuffle percentage (`JobContext.cpp:109-112`, moved-pairs / total).
  *
  * Spark has no inter-stage "shuffle phase": shuffle WRITE finishes
  * inside each map task, shuffle READ happens inside each reduce task as
  * its iterator drains. So shuffle % here = records fetched by reduce
  * tasks / records written by map tasks, tracked from
  *  - completed tasks' `TaskMetrics` (write + read totals), and
  *  - executor heartbeats (`SparkListenerExecutorMetricsUpdate` carries
  *    each RUNNING task's `internal.metrics.shuffle.read.recordsRead`),
  * which makes the percentage move WHILE stage-2 tasks fetch — a poller
  * no longer sees a progress flatline between map 100% and the first
  * reduce-task completion.
  */
private[core] object ShuffleProgress extends SparkListener {

  private val ReadRecords = "internal.metrics.shuffle.read.recordsRead"

  private val installed = new AtomicBoolean(false)
  private val stageOwner = TrieMap.empty[Int, String]
  private val writeRecs = TrieMap.empty[String, AtomicLong]
  private val readEnded = TrieMap.empty[String, AtomicLong]
  private val liveRead = TrieMap.empty[String, TrieMap[Long, Long]]

  def install(sc: SparkContext): Unit =
    if (installed.compareAndSet(false, true)) sc.addSparkListener(this)

  /** (records fetched so far, records written by the map side). */
  def readWrite(groupId: String): (Long, Long) = {
    val w = writeRecs.get(groupId).fold(0L)(_.get)
    val r = readEnded.get(groupId).fold(0L)(_.get) +
      liveRead.get(groupId).fold(0L)(_.values.sum)
    (r, w)
  }

  /** Drop a finished job's bookkeeping (handles are short-lived; the
    * totals are only consulted while the job runs).
    */
  def forget(groupId: String): Unit = {
    writeRecs.remove(groupId)
    readEnded.remove(groupId)
    liveRead.remove(groupId)
    stageOwner.filterInPlace((_, g) => g != groupId)
  }

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val gid = Option(jobStart.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (gid.startsWith("mr-job-")) {
      jobStart.stageInfos.foreach(si => stageOwner.put(si.stageId, gid))
      writeRecs.putIfAbsent(gid, new AtomicLong)
      readEnded.putIfAbsent(gid, new AtomicLong)
      liveRead.putIfAbsent(gid, TrieMap.empty)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (gid <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val written = m.shuffleWriteMetrics.recordsWritten
      if (written > 0) writeRecs.get(gid).foreach(_.addAndGet(written))
      val read = m.shuffleReadMetrics.recordsRead
      if (read > 0) readEnded.get(gid).foreach(_.addAndGet(read))
      liveRead.get(gid).foreach(_.remove(e.taskInfo.taskId))
    }

  // Heartbeat AccumulableInfos arrive nameless (Spark resolves them by ID
  // on the driver); AccumShim does the same ID → name lookup for us.
  private def isReadRecords(a: org.apache.spark.scheduler.AccumulableInfo): Boolean =
    a.name.orElse(org.apache.spark.graftshim.AccumShim.nameOf(a.id))
      .contains(ReadRecords)

  override def onExecutorMetricsUpdate(e: SparkListenerExecutorMetricsUpdate): Unit =
    e.accumUpdates.foreach { case (taskId, stageId, _, accums) =>
      for (gid <- stageOwner.get(stageId); live <- liveRead.get(gid)) {
        accums.find(isReadRecords).flatMap(_.update).foreach {
          case n: Long => live.put(taskId, n)
          case _       => ()
        }
      }
    }
}

/** Opaque job handle — `MapReduceFramework.h:18` (`JobHandle`), with the
  * observable state of `getJobState` (`MapReduceFramework.cpp:61-69`).
  *
  * Stage mapping (SURVEY §3.2): the plan is a 2-stage shuffle DAG; the
  * map stage's tasks cover map+sort+shuffle-write, the result stage's
  * tasks cover shuffle-read+reduce. We report MAP while stage-1 tasks
  * run; SHUFFLE — with a LIVE percentage (records fetched / records
  * written, via [[ShuffleProgress]]) matching the reference's moving
  * shuffle % (`JobContext.cpp:109-112`) — while stage-2 tasks fetch;
  * REDUCE once a stage-2 task completes or the fetch is drained. The
  * enum values and their order match `stage_t`
  * (`MapReduceFramework.h:8-13`).
  */
final class JobHandle[K3, V3] private[core] (
    spark: SparkSession,
    val groupId: String,
    fut: Future[Array[(K3, V3)]]) {

  @volatile private var finished = false

  /** `waitForJob` (`MapReduceFramework.cpp:52-59`) — but synchronous and
    * lost-wakeup-free by construction (the reference cond-waits on an
    * unlocked mutex and can sleep forever, SURVEY §4.3-Q2).
    */
  def waitForJob(): Array[(K3, V3)] = {
    val r = Await.result(fut, Duration.Inf)
    finished = true
    r
  }

  def isDone: Boolean = finished || fut.isCompleted

  /** Cancel the running job — what the reference's destructor does with
    * `pthread_cancel` (`JobContext.cpp:205-210`, quirk Q5: UB on live
    * threads), done safely: Spark interrupts the job group's tasks and
    * the pending action fails with a cancellation error.
    */
  def cancel(): Unit = spark.sparkContext.cancelJobGroup(groupId)

  /** Last state handed to a poller — `state` clamps against it so the
    * reported sequence is monotone even when the raw signals regress
    * (a pending stage's info materializing re-attributes tasks; a
    * killed fetch task retracts its accumulator contribution).
    */
  private var reported: JobState = JobState(Stage.Undefined, 0f)

  /** `getJobState` — poll-safe from any thread, monotone percentages. */
  def state: JobState = synchronized {
    val raw = rawState
    reported =
      if (raw.stage.id < reported.stage.id) reported
      else if (raw.stage == reported.stage)
        JobState(raw.stage, math.max(raw.percentage, reported.percentage))
      else raw
    reported
  }

  private def rawState: JobState = {
    if (isDone) return JobState(Stage.Done, 100f)
    val tracker = spark.sparkContext.statusTracker
    val jobIds = tracker.getJobIdsForGroup(groupId)
    if (jobIds.isEmpty) return JobState(Stage.Undefined, 0f)
    // Partition by the job's KNOWN last stage id (jobInfo lists pending
    // stage ids before their StageInfo exists) — using the last VISIBLE
    // info instead would mis-attribute the map stage's completion to
    // Reduce while the result stage is still pending submission.
    val allIds = jobIds
      .flatMap(id => tracker.getJobInfo(id).toSeq.flatMap(_.stageIds())).sorted
    if (allIds.isEmpty) return JobState(Stage.Undefined, 0f)
    val lastId = allIds.last
    val stages = allIds.flatMap(sid => tracker.getStageInfo(sid).toSeq)
    if (stages.isEmpty) return JobState(Stage.Undefined, 0f)
    val (reduceStages, mapStages) = stages.partition(_.stageId == lastId)
    def pct(ss: Seq[org.apache.spark.SparkStageInfo]): Float = {
      val total = ss.map(_.numTasks).sum
      if (total == 0) 0f else 100f * ss.map(_.numCompletedTasks).sum / total
    }
    if (mapStages.nonEmpty && pct(mapStages) < 100f) return JobState(Stage.Map, pct(mapStages))
    val redPct = pct(reduceStages)
    if (redPct > 0f) return JobState(Stage.Reduce, redPct)
    // No reduce task has completed yet: this is the shuffle phase. Live %
    // = records fetched / records written (ShuffleProgress); once every
    // record is fetched we report Reduce 0% — the fetch is done and the
    // remaining work is reduce compute.
    val (read, written) = ShuffleProgress.readWrite(groupId)
    if (written > 0L && read >= written) JobState(Stage.Reduce, 0f)
    else if (written <= 0L) JobState(Stage.Shuffle, 0f)
    else JobState(Stage.Shuffle, math.min(99f, 100f * read / written))
  }
}
