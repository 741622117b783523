package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, one-client driver for graft's public query surface.
  *
  * Arguments are `key=value` pairs: `data` (parquet table dir), `queries`
  * (comma list of `SparkEntry` names), `warmup` (untimed passes),
  * `passes` (timed passes), `trace`
  * (0/1), `cpus`, `launch_ms` (epoch ms at process launch), `local_dir`
  * (Spark's scratch dir) and `out`.
  *
  * `warmup` untimed passes run every query; the first one's results
  * are dumped as parquet under `out/results/<name>` for the oracle check.
  * `passes` timed passes then repeat the workload.
  * Each execution is release → build (`q.spark`) → execute (`collect`),
  * and its sorted-row fingerprint is compared, outside the timed
  * interval, with the warm-up result's. Everything measured stays in
  * memory and is written once to `out/run.json` when the run ends.
  */
object Driver {
  private val clock0Ms = System.currentTimeMillis().toDouble
  private val clock0Ns = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  final case class Exec(qid: String, name: String, pass: Int, ok: Boolean,
      error: String, release: (Double, Double), build: (Double, Double),
      exec: (Double, Double), rows: Long, newTmp: Int, cachedBytes: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = opt("data")
    val names = opt("queries").split(",").toSeq
    val warmups = opt("warmup").toInt
    val passCount = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val out = new File(opt("out"))
    val launchMs = opt("launch_ms").toDouble

    val catalog = graft.SparkEntry.all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val qs = names.map(catalog)

    // Configured like graft.Bench: AQE on, coalescing off, graft's
    // planner extensions, UTC, no UI.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val readyMs = nowMs()

    val rec = if (trace) Some(new Recorder) else None
    rec.foreach { r =>
      sc.addSparkListener(r.jobs)
      spark.listenerManager.register(r.actions)
      spark.streams.addListener(r.batches)
    }

    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    def tmpEntries(): Set[String] = Option(tmpRoot.list()).map(_.toSet).getOrElse(Set.empty)
    var seq = 0
    def runOne(q: graft.Q, pass: Int): (Exec, Array[Row], StructType) = {
      seq += 1
      val qid = s"q$seq"
      val before = tmpEntries()
      val t0 = nowMs()
      sc.setJobGroup(s"$qid:release", q.name)
      graft.Core.releaseCaches()
      val t1 = nowMs()
      var t2, t3 = t1
      var rows: Array[Row] = null
      var schema: StructType = null
      var err = ""
      try {
        sc.setJobGroup(s"$qid:build", q.name)
        val df = q.spark(spark, data)
        t2 = nowMs()
        sc.setJobGroup(s"$qid:execute", q.name)
        rows = df.collect()
        t3 = nowMs()
        schema = df.schema
      } catch {
        case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally sc.clearJobGroup()
      if (rows == null) { t2 = t2 max t1; t3 = t3 max t2 }
      val cached = if (trace) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
      val newTmp = (tmpEntries() -- before).size
      (Exec(qid, q.name, pass, rows != null, err, (t0, t1), (t1, t2), (t2, t3),
        if (rows == null) 0L else rows.length.toLong, newTmp, cached), rows, schema)
    }

    val execs = ArrayBuffer[Exec]()
    val expectedFp = scala.collection.mutable.Map[String, String]()
    val warmRows = scala.collection.mutable.Map[String, (Array[Row], StructType)]()

    // Warm-up passes: untimed, same data, counted in setup time. The
    // first one's results are the reference for the oracle check and
    // for every timed execution.
    val warmStart = nowMs()
    for (w <- 0 until warmups) qs.foreach { q =>
      val (e, rows, schema) = runOne(q, -1)
      execs += e
      if (w == 0 && rows != null) {
        warmRows(q.name) = (rows, schema)
        expectedFp(q.name) = fingerprint(rows)
      }
    }
    val warmEnd = nowMs()
    // Dump warm-up results for the oracle check.
    val resultsDir = new File(out, "results")
    warmRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(resultsDir, name).toString)
    }
    warmRows.clear()

    val scratchRoots = Seq(tmpRoot, new File(opt("local_dir")))
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime max 0L).sum
    // The first collection lets Spark's ContextCleaner see unreachable
    // broadcasts and shuffles; their blocks (a broadcast hash relation
    // holds tens of MiB) are freed on its thread, and only a later
    // collection returns that memory.
    def heapAfterGc(): Long = {
      System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200); System.gc()
      oldGen.map(_.getUsage.getUsed).sum
    }

    heapAfterGc()
    val scratchBefore = scratchRoots.map(du).sum
    val passes = ArrayBuffer[(Double, Double, Long)]()
    var heapRetained = 0L
    var pass = 0
    while (pass < passCount) {
      val gc0 = gcMs()
      val ps = nowMs()
      qs.foreach { q =>
        val (e, rows, _) = runOne(q, pass)
        // Fingerprint outside the timed interval.
        val wrong = if (!e.ok) None else expectedFp.get(q.name) match {
          case None => Some("warm-up execution failed; no result to compare with")
          case Some(fp) if fp != fingerprint(rows) => Some("result differs from the warm-up result")
          case _ => None
        }
        execs += wrong.fold(e)(m => e.copy(ok = false, error = m))
      }
      val pe = nowMs()
      // GC time of the pass itself, read before the heap probe's own
      // forced collections.
      val gc = gcMs() - gc0
      passes += ((ps, pe, gc))
      // Probed once, after the first pass: the heap grows by a few MiB
      // with each further pass, and the probe's collections cost time.
      if (pass == 0) heapRetained = heapAfterGc()
      pass += 1
    }
    val scratchAfter = scratchRoots.map(du).sum

    spark.streams.active.foreach(_.stop())
    // Stopping the context drains the listener bus, so every event is in.
    spark.stop()

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""cpus":$cpus,"launch_ms":$launchMs,"ready_ms":$readyMs,"""
    sb ++= s""""warm":[$warmStart,$warmEnd],"""
    sb ++= s""""scratch_bytes":[$scratchBefore,$scratchAfter],"""
    sb ++= qs.flatMap(q => q.oracle.map(sql => s"${str(q.name)}:${str(sql)}")).mkString("\"oracle\":{", ",", "},")
    sb ++= s""""heap_retained_bytes":$heapRetained,"""
    sb ++= s""""passes":${passes.map { case (s, e, g) => s"""{"start":$s,"end":$e,"gc_ms":$g}""" }.mkString("[", ",", "]")},"""
    sb ++= s""""execs":${execs.map(execJson).mkString("[", ",", "]")}"""
    rec.foreach(r => sb ++= "," ++= r.json(tmpRoot))
    sb ++= "}"
    Files.write(Paths.get(out.toString, "run.json"), sb.toString.getBytes(UTF_8))
  }

  /** Order-independent fingerprint of a result: rows rendered, sorted, hashed. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def span(p: (Double, Double)): String = s"[${p._1},${p._2}]"

  def execJson(e: Exec): String =
    s"""{"qid":"${e.qid}","name":"${e.name}","pass":${e.pass},"ok":${e.ok},""" +
      s""""error":${str(e.error)},"release":${span(e.release)},"build":${span(e.build)},""" +
      s""""execute":${span(e.exec)},"rows":${e.rows},"new_tmp":${e.newTmp},""" +
      s""""cached_bytes":${e.cachedBytes}}"""

  /** Listeners for the traced run: Spark jobs, stages and tasks; SQL
    * actions with their planning phases; streaming micro-batches. */
  final class Recorder {
    private val jobRows = new ConcurrentLinkedQueue[String]
    private val stageRows = new ConcurrentLinkedQueue[String]
    private val actionRows = new ConcurrentLinkedQueue[String]
    private val batchRows = new ConcurrentLinkedQueue[String]
    private val writePaths = new ConcurrentLinkedQueue[String]

    // Per-stage task sums: tasks, failed, run ms, cpu ns, shuffle write
    // bytes, shuffle read bytes, fetch wait ms, spill bytes, input rows,
    // input bytes, output bytes, gc ms, scheduler delay ms.
    private val taskSums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

    val jobs: SparkListener = new SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        starts.put(e.jobId, (e.time, group, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t, group, stages) = starts.remove(e.jobId)
        val ok = e.jobResult == JobSucceeded
        jobRows.add(s"""{"id":${e.jobId},"group":${str(group)},"start":$t,"end":${e.time},"ok":$ok,"stages":${stages.mkString("[", ",", "]")}}""")
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](13))
        val m = e.taskMetrics
        val info = e.taskInfo
        s.synchronized {
          s(0) += 1
          if (e.reason != Success) s(1) += 1
          if (m != null) {
            s(2) += m.executorRunTime
            s(3) += m.executorCpuTime
            s(4) += m.shuffleWriteMetrics.bytesWritten
            s(5) += m.shuffleReadMetrics.totalBytesRead
            s(6) += m.shuffleReadMetrics.fetchWaitTime
            s(7) += m.memoryBytesSpilled + m.diskBytesSpilled
            s(8) += m.inputMetrics.recordsRead
            s(9) += m.inputMetrics.bytesRead
            s(10) += m.outputMetrics.bytesWritten
            s(11) += m.jvmGCTime
            s(12) += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val s = Option(taskSums.get((i.stageId, i.attemptNumber()))).getOrElse(new Array[Long](13))
        stageRows.add(s"""{"id":${i.stageId},"attempt":${i.attemptNumber()},"start":${i.submissionTime.getOrElse(0L)},"end":${i.completionTime.getOrElse(0L)},"sums":${s.mkString("[", ",", "]")}}""")
      }
    }

    val actions: QueryExecutionListener = new QueryExecutionListener {
      private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
        val phases = qe.tracker.phases.values
        val start = if (phases.isEmpty) 0L else phases.map(_.startTimeMs).min
        val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
        val path = scala.util.Try(qe.logical.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
        }).toOption.flatten.getOrElse("")
        if (path.nonEmpty) writePaths.add(path)
        actionRows.add(s"""{"func":${str(func)},"start":$start,"plan_ms":$planMs,"ok":$ok,"write_path":${str(path)}}""")
      }
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe, ok = true)
      override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = record(func, qe, ok = false)
    }

    val batches: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => s"${str(k)}:${v.longValue}" }.mkString("{", ",", "}")
        val stateRows = p.stateOperators.map(_.numRowsTotal).sum
        val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
        batchRows.add(s"""{"run":${str(p.runId.toString)},"batch":${p.batchId},"start":$start,"duration_ms":$d,"rows":${p.numInputRows},"state_rows":$stateRows,"state_bytes":$stateBytes}""")
      }
    }

    def json(tmpRoot: File): String = {
      val tmp = tmpRoot.getCanonicalPath
      // Checkpoint writes land in graft temp dirs, which live until
      // the JVM exits, so their sizes are still on disk here.
      val ckpt = writePaths.asScala.toSeq.distinct.filter(p => new File(p).getCanonicalPath.startsWith(tmp))
        .map(p => s"${str(p)}:${du(new File(p))}").mkString("{", ",", "}")
      def arr(q: ConcurrentLinkedQueue[String]) = q.asScala.mkString("[", ",", "]")
      s""""jobs":${arr(jobRows)},"stages":${arr(stageRows)},"actions":${arr(actionRows)},""" +
        s""""batches":${arr(batchRows)},"ckpt_bytes":$ckpt"""
    }
  }
}
