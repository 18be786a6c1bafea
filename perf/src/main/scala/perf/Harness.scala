package perf

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{PinScope, SparkEntry, Tables}

/** One benchmark run, in a JVM of its own.
  *
  * Set-up (session plus Bench's fixed `nation` warm-up query), one cold
  * pass, then at least `--min-warm` warm passes, more while `--seconds` of
  * warm time have not been spent, every pass issuing the given queries back
  * to back in the given order and consuming each through the `noop` sink, as
  * `graft.Bench` does. After the timed passes an untimed check pass writes
  * the output of every query that has an `oracleSql` entry as parquet for
  * the launcher's DuckDB comparison; queries without one are re-run after
  * every pass and digested, untimed, so the launcher can require one
  * digest across passes.
  *
  * The timed unit of a query is the engine's public surface only: the
  * query function from `SparkEntry.queries` (build), the `noop` write
  * (consume) and `PinScope.drain()` (drain). With `--trace 1` the
  * [[Tracer]] records spans around those calls and listener counts under
  * them, on the cold pass and half of the warm passes; the untraced warm
  * passes of the same run give the tracing overhead.
  *
  * Everything is written to `--out` as one JSON object; the launcher
  * (`run.py`) turns it into metrics.
  */
object Harness {

  final case class Call(pass: Int, query: String, ok: Boolean, error: String,
                        buildS: Double, consumeS: Double, drainS: Double,
                        pinnedBytes: Long) {
    def wallS: Double = buildS + consumeS + drainS
  }

  private def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Bytes of every regular file under `root` (0 when absent). */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after the last collection of each heap pool. */
  private def heapAfterGc(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Order-insensitive digest of a result: SHA-256 of its sorted rows. */
  def digest(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    df.collect().map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def list(k: String): Seq[String] =
      opt.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    val launchedEpochNs = opt("launched-epoch-ns").toLong
    val sf = opt("sf")
    val slots = opt("slots").toInt
    val run = Paths.get(opt("run-dir")).toAbsolutePath
    val out = Paths.get(opt("out"))
    val traced = opt.get("trace").contains("1")
    val warmSeconds = opt.getOrElse("seconds", "10").toDouble
    val minWarmPasses = opt.getOrElse("min-warm", "5").toInt
    val order = list("queries")
    val oracleSql = SparkEntry.oracleSql.filter(o => order.contains(o._1))
    val checkSet = order.filter(oracleSql.contains)
    val digestSet = order.filterNot(oracleSql.contains).toSet
    val json = new ObjectMapper().registerModule(DefaultScalaModule)

    val tracer = if (traced) Some(new Tracer(run)) else None

    // ---- set-up: session, then Bench's fixed warm-up query ----
    val tSession0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.resolve("local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
    if (traced)
      builder.config("spark.sql.queryExecutionListeners",
                     classOf[PlanProbe].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tSession1 = System.nanoTime()
    spark.read.parquet(s"$sf/nation.parquet")
      .groupBy("n_regionkey").count().count()
    val tReady = System.nanoTime()
    val readyEpochNs = nowEpochNs()
    val setup = Map(
      "setup_s" -> (readyEpochNs - launchedEpochNs) / 1e9,
      "session_s" -> secs(tSession0, tSession1),
      "warmup_s" -> secs(tSession1, tReady),
      "jit_s" -> jitMs() / 1e3,
      "gc_s" -> gcMs() / 1e3)

    tracer.foreach(_.attach(spark))
    val queries = SparkEntry.queries
    val sc = spark.sparkContext
    val calls = mutable.ArrayBuffer.empty[Call]
    val digests = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    var heapPeak = 0L

    def onePass(pass: Int, traceThis: Boolean): Double = {
      val tPass0 = System.nanoTime()
      order.foreach { name =>
        val tr = tracer.filter(_ => traceThis)
        tr.foreach(_.beginQuery(pass, name))
        var err: Throwable = null
        var df: DataFrame = null
        tr.foreach(_.begin("build"))
        val t0 = System.nanoTime()
        try df = queries(name)(spark, sf)
        catch { case NonFatal(e) => err = e }
        val t1 = System.nanoTime()
        if (df != null) tr.foreach(_.built(df))
        tr.foreach(_.begin("consume"))
        val t2 = System.nanoTime()
        if (err == null)
          try df.write.format("noop").mode("overwrite").save()
          catch { case NonFatal(e) => err = e }
        val t3 = System.nanoTime()
        // persisted-RDD bytes held by the query right before its drain
        val infos = sc.getRDDStorageInfo
        val pinned = infos.map(i => i.memSize + i.diskSize).sum
        tr.foreach(_.begin("drain"))
        val t4 = System.nanoTime()
        PinScope.drain()
        val t5 = System.nanoTime()
        tr.foreach(_.endQuery(infos.length, pinned))
        if (err != null)
          System.err.println(s"[perf] $name failed in pass $pass: $err")
        calls += Call(pass, name, err == null,
                      if (err == null) "" else err.toString,
                      secs(t0, t1), secs(t2, t3), secs(t4, t5), pinned)
        heapPeak = heapPeak.max(heapAfterGc())
      }
      val passS = secs(tPass0, System.nanoTime())
      // untimed: digest the queries that have no oracle
      order.filter(digestSet).foreach { name =>
        tracer.foreach(_.tag("check"))
        val d = try digest(queries(name)(spark, sf))
                catch { case NonFatal(e) => s"error: $e" }
                finally PinScope.drain()
        tracer.foreach(_.tag(null))
        digests.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += d
      }
      passS
    }

    val jit0 = jitMs(); val gc0 = gcMs()
    val coldS = onePass(0, traceThis = true)
    val coldJvm = Map("jit_s" -> (jitMs() - jit0) / 1e3,
                      "gc_s" -> (gcMs() - gc0) / 1e3)
    val runDirs = Seq(run.resolve("tmp"), run.resolve("warehouse"))

    // Warm passes: at least `--min-warm`, since the JIT is still compiling
    // in the first ones, until the warm time is spent. A traced run makes at
    // least six and traces them in the pattern T U U T T U, so that its
    // untraced passes, about as warm as the traced ones, give the overhead.
    val minWarm = if (traced) minWarmPasses.max(6) else minWarmPasses
    var warmS = 0.0
    var pass = 0
    while (pass < minWarm || (warmS < warmSeconds && pass < 60)) {
      pass += 1
      warmS += onePass(pass, traceThis = pass % 4 < 2)
    }
    val diskBytes = runDirs.map(treeBytes).sum

    // per-table read cost, warm, outside the passes
    val tableReads = tracer.map { _ =>
      val tables = Files.list(Paths.get(sf)).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).toSeq.sorted
      for (t <- tables; _ <- 1 to 5) yield {
        val t0 = System.nanoTime()
        Tables(spark, sf, t).schema
        t -> secs(t0, System.nanoTime())
      }
    }.getOrElse(Seq.empty)

    // untimed check pass: one parquet file per oracle-checked query
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    checkSet.foreach { name =>
      tracer.foreach(_.tag("check"))
      try queries(name)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(run.resolve("check").resolve(name).toString)
      catch { case NonFatal(e) => checkErrors(name) = e.toString }
      finally PinScope.drain()
      tracer.foreach(_.tag(null))
    }

    val inputBytes = treeBytes(Paths.get(sf))
    val traceOut = tracer.map(_.finish(slots)).getOrElse(Map.empty)
    val result = Map(
      "setup" -> setup,
      "cold_pass_s" -> coldS,
      "warm_passes" -> pass,
      "calls" -> calls.map(c => Map(
        "pass" -> c.pass, "query" -> c.query, "ok" -> c.ok,
        "error" -> c.error, "wall_s" -> c.wallS, "build_s" -> c.buildS,
        "consume_s" -> c.consumeS, "drain_s" -> c.drainS,
        "pinned_bytes" -> c.pinnedBytes)),
      "digests" -> digests.map { case (k, v) => k -> v.toSeq }.toMap,
      "check_errors" -> checkErrors.toMap,
      "oracle_sql" -> oracleSql,
      "disk_bytes" -> diskBytes,
      "input_bytes" -> inputBytes,
      "jvm" -> Map("cold" -> coldJvm, "heap_after_gc_peak_bytes" -> heapPeak),
      "table_reads" -> tableReads.map { case (t, s) =>
        Map("table" -> t, "s" -> s) },
      "trace" -> traceOut)
    Files.writeString(out, json.writeValueAsString(result))
    spark.stop()
  }
}
