package perf

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark listener for a traced run. Jobs and stages carry the span id the
  * harness set as a local property when they started; tasks inherit their
  * stage's. Stream events are kept with their own timestamps and placed
  * under a span by time when the run ends. All handlers run on the
  * listener bus thread and are read only after the bus has gone quiet. */
final class Probe extends SparkListener {
  import Probe._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageTag = mutable.HashMap.empty[Int, String]
  val stages = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  val tasks = mutable.HashMap.empty[String, Tasks]
  val streamsStarted = mutable.ArrayBuffer.empty[Long]
  val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile var lastEventNs: Long = System.nanoTime()
  @volatile var openJobs: Int = 0

  private def seen(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seen(); openJobs += 1
    val tag = Option(e.properties).map(_.getProperty(Key)).orNull
    val tables = e.stageInfos.exists(_.name.contains("Tables.scala"))
    jobs(e.jobId) = Job(e.jobId, tag, e.time, e.time, tables)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    seen(); openJobs -= 1
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      seen()
      val tag = Option(e.properties).map(_.getProperty(Key)).orNull
      if (tag != null) {
        stageTag(e.stageInfo.stageId) = tag
        stages(tag) += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    seen()
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = tasks.getOrElseUpdate(tag, new Tasks)
      t.count += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakMem = t.peakMem.max(m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent => synchronized {
      seen(); streamsStarted += parseMs(s.timestamp)
    }
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      seen()
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches += Batch(parseMs(pr.timestamp), d.getOrElse("triggerExecution", 0L),
                       d.getOrElse("addBatch", 0L), d.getOrElse("walCommit", 0L),
                       pr.numInputRows, pr.stateOperators.map(_.numRowsTotal).sum)
    }
    case _ => ()
  }
}

object Probe {
  /** Local property naming the harness span that started a job. */
  val Key = "perf.span"

  final case class Job(id: Int, tag: String, startMs: Long, endMs: Long,
                       tables: Boolean)
  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long,
                         walCommitMs: Long, rowsIn: Long, stateRows: Long)
  final class Tasks {
    var count = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var peakMem = 0L
  }

  def parseMs(ts: String): Long =
    if (ts == null) 0L else java.time.Instant.parse(ts).toEpochMilli
}

/** Catalyst phase times of every finished query execution, in every
  * session (registered through `spark.sql.queryExecutionListeners`). */
final class PlanProbe extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = PlanProbe.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = PlanProbe.record(qe)
}

object PlanProbe {
  /** Phase name to (start, end) epoch ms, one map per execution. */
  val events =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  def record(qe: QueryExecution): Unit =
    events.add(qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs, p.endTimeMs) })
}

/** Spans of a traced run. The harness opens a root `query` span per
  * (pass, query) with children `build`, `consume` and `drain`; jobs hang
  * under the span whose id they carry, stream batches and Catalyst phases
  * under the span whose interval holds them. Spans stay in memory until
  * [[finish]], which writes `spans.jsonl` and `layers.jsonl` to the run
  * directory's `trace/` folder and returns one layer record per query. */
final class Tracer(run: Path) {
  import Tracer.Span

  private val probe = new Probe
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val extra = mutable.HashMap.empty[Int, Map[String, Any]]
  private val analysisMs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private var sc: SparkContext = _
  private var root: Span = _
  private var child: Span = _
  private var before: Map[Path, (Long, Long)] = Map.empty
  private val tmp = run.resolve("tmp")

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(probe)
  }

  def tag(v: String): Unit = sc.setLocalProperty(Probe.Key, v)

  /** (size, mtime) of every file under the run's temp dir. */
  private def snapshot(): Map[Path, (Long, Long)] = {
    val s = Files.walk(tmp)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  def beginQuery(pass: Int, query: String): Unit = {
    before = snapshot()
    root = Span(spans.size, -1, spans.size, "query", pass, query,
                System.nanoTime(), 0L)
    spans += root
  }

  def begin(name: String): Unit = {
    val now = System.nanoTime()
    if (child != null) child.end = now
    child = Span(spans.size, root.id, root.id, name, root.pass, root.query,
                 now, 0L)
    spans += child
    tag(child.id.toString)
  }

  /** Analysis of the returned DataFrame runs eagerly inside the query
    * function; its time is read here, since no execution reports it. */
  def built(df: org.apache.spark.sql.DataFrame): Unit =
    analysisMs(root.id) = df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs).getOrElse(0L)

  def endQuery(pinRdds: Int, pinBytes: Long): Unit = {
    val now = System.nanoTime()
    child.end = now; root.end = now; child = null
    tag(null)
    val after = snapshot()
    def top(ps: Iterable[Path]) = ps.map(p => tmp.relativize(p).getName(0)).toSet
    extra(root.id) = Map(
      "pin_rdds" -> pinRdds, "pin_bytes" -> pinBytes,
      "artifact_dirs_created" -> (top(after.keys) -- top(before.keys)).size,
      "artifact_bytes_written" -> after.collect {
        case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum)
  }

  private def ns(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  /** Waits until the listener bus has delivered every event of the run. */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (System.nanoTime() < deadline &&
           (probe.openJobs > 0 ||
            System.nanoTime() - probe.lastEventNs < 500L * 1000000L))
      Thread.sleep(100)
  }

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var reach = lo
    ivs.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - a.max(reach); reach = b }
      }
    total
  }

  def finish(slots: Int): Seq[Map[String, Any]] = {
    quiesce()
    probe.synchronized {
      val harness = spans.toSeq
      val byId = harness.map(s => s.id -> s).toMap
      val children = harness.filter(_.parent >= 0)
      /** The child span (build, consume, drain) whose interval holds t. */
      def at(t: Long): Option[Span] =
        children.find(s => s.start - 1000000L <= t && t <= s.end + 1000000L)
      var nextId = harness.size
      val jobSpans = probe.jobs.values.toSeq.flatMap { j =>
        Option(j.tag).flatMap(t => scala.util.Try(t.toInt).toOption)
          .flatMap(byId.get).map { p =>
            nextId += 1
            Span(nextId, p.id, p.root, "job", p.pass, p.query,
                 ns(j.startMs), ns(j.endMs))
          }
      }
      val batchSpans = probe.batches.toSeq.flatMap { b =>
        at(ns(b.startMs)).map { p =>
          nextId += 1
          (Span(nextId, p.id, p.root, "batch", p.pass, p.query,
                ns(b.startMs), ns(b.startMs + b.triggerMs)), b)
        }
      }
      val all = harness ++ jobSpans ++ batchSpans.map(_._1)
      val kids = all.filter(_.parent >= 0).groupBy(_.parent)
      def selfNs(s: Span): Long = s.end - s.start -
        covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
                s.start, s.end)

      val plans = PlanProbe.events.asScala.toSeq.flatMap { ph =>
        val mid = (ph.values.map(_._1).min + ph.values.map(_._2).max) / 2
        at(ns(mid)).map(_ -> ph)
      }
      val streams = probe.streamsStarted.flatMap(t => at(ns(t)))
      val jobsByTag = probe.jobs.values.groupBy(_.tag)

      val records = harness.filter(_.parent < 0).map { q =>
        val mine = children.filter(_.root == q.id)
        def span(n: String) = mine.find(_.name == n)
        def tagOf(n: String) = span(n).map(_.id.toString).orNull
        def dur(n: String) = span(n).map(s => (s.end - s.start) / 1e9).getOrElse(0.0)
        val consumeTag = tagOf("consume")
        val t = probe.tasks.getOrElse(consumeTag, new Probe.Tasks)
        val myJobs = mine.flatMap(s => jobsByTag.getOrElse(s.id.toString, Nil))
        val myBatches = batchSpans.filter(_._1.root == q.id).map(_._2)
        val consumePlans =
          plans.filter(_._1.id.toString == consumeTag).map(_._2)
        def phase(n: String) =
          consumePlans.flatMap(_.get(n)).map(x => (x._2 - x._1) / 1e3).sum
        val selfBy = all.filter(_.root == q.id).groupBy(_.name)
          .map { case (n, ss) => s"self_${n}_s" -> ss.map(selfNs).sum / 1e9 }
        val consumeS = dur("consume")
        Map(
          "pass" -> q.pass, "query" -> q.query,
          "wall_s" -> (q.end - q.start) / 1e9,
          "build_s" -> dur("build"), "consume_s" -> consumeS,
          "drain_s" -> dur("drain"),
          "build_jobs" -> jobsByTag.getOrElse(tagOf("build"), Nil).size,
          "tables_jobs" -> myJobs.count(_.tables),
          "exec_jobs" -> jobsByTag.getOrElse(consumeTag, Nil).size,
          "exec_stages" -> probe.stages(consumeTag),
          "exec_tasks" -> t.count,
          "exec_task_run_s" -> t.runMs / 1e3,
          "exec_task_cpu_s" -> t.cpuNs / 1e9,
          "exec_gc_s" -> t.gcMs / 1e3,
          "exec_shuffle_write_bytes" -> t.shuffleWrite,
          "exec_shuffle_read_bytes" -> t.shuffleRead,
          "exec_spill_bytes" -> t.spill,
          "exec_peak_exec_mem_bytes" -> t.peakMem,
          "exec_slot_ms" -> consumeS * 1e3 * slots,
          "plan_analysis_s" -> (phase("analysis") + analysisMs(q.id) / 1e3),
          "plan_optimization_s" -> phase("optimization"),
          "plan_planning_s" -> phase("planning"),
          "stream_queries" -> streams.count(_.root == q.id),
          "stream_batches" -> myBatches.size,
          "stream_batch_s" -> myBatches.map(_.triggerMs).sum / 1e3,
          "stream_add_batch_s" -> myBatches.map(_.addBatchMs).sum / 1e3,
          "stream_wal_commit_s" -> myBatches.map(_.walCommitMs).sum / 1e3,
          "stream_rows_in" -> myBatches.map(_.rowsIn).sum,
          "stream_state_rows" -> myBatches.map(_.stateRows).sum
        ) ++ extra.getOrElse(q.id, Map.empty) ++ selfBy
      }

      val dir = Files.createDirectories(run.resolve("trace"))
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      def lines(rows: Seq[Any]) =
        rows.map(json.writeValueAsString).mkString("", "\n", "\n")
      Files.writeString(dir.resolve("spans.jsonl"), lines(all.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "root" -> s.root,
            "name" -> s.name, "pass" -> s.pass, "query" -> s.query,
            "start_s" -> (s.start - nano0) / 1e9,
            "end_s" -> (s.end - nano0) / 1e9, "self_s" -> selfNs(s) / 1e9)
      }))
      Files.writeString(dir.resolve("layers.jsonl"), lines(records))
      records
    }
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, root: Int, name: String,
                        pass: Int, query: String, start: Long, var end: Long)
}
