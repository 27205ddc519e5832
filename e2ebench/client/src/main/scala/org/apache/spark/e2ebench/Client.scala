// Lives under org.apache.spark only to reach two Spark-internal hooks:
// LiveListenerBus.waitUntilEmpty (so listener counts are complete before a
// pass or op is read out) and the CodegenMetrics source.
package org.apache.spark.e2ebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, single-threaded benchmark client.
  *
  * One op = `SparkEntry.queries(name)(spark, corpus)` (the "entry" phase:
  * analysis, table resolution and any eager work the query does while it
  * is built) followed by a `noop`-format write of the result (the "exec"
  * phase). A pass runs every query of the workload once, in an order drawn
  * from the seed. The client warms up until pass time stops falling (its
  * first, cold pass writes each query's result as parquet for the caller's
  * oracle check), then times whole passes until the time box is spent.
  * Everything it measures goes to one JSON file; the caller turns that
  * into metrics.
  *
  * Usage: Client <queries,comma,separated> <corpusDir> <seed> <seconds>
  *                <trace 0|1> <verifyDir> <outJson> <warmTolerance>
  *                <warmMaxSeconds>
  */
object Client {

  /** Task and job counters for one phase ("b" = entry/build, "x" = exec). */
  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var peakTaskMem = 0L
    var shuffleBytes, shuffleRecords, spillBytes = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      fetchWaitMs += o.fetchWaitMs
      peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
      shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
      spillBytes += o.spillBytes
      inBytes += o.inBytes; inRecords += o.inRecords
      outBytes += o.outBytes; outRecords += o.outRecords
    }

    def json: String = Json.obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "fetch_wait_ms" -> fetchWaitMs, "peak_task_mem" -> peakTaskMem,
      "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
      "spill_bytes" -> spillBytes, "in_bytes" -> inBytes,
      "in_records" -> inRecords, "out_bytes" -> outBytes,
      "out_records" -> outRecords)
  }

  /** Attributes scheduler events to the job group the client set: groups
    * are `<op>:b` or `<op>:x`; jobs outside any group are ignored.
    */
  final class Attribution extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    val byGroup = new ConcurrentHashMap[String, Counters]()

    private def of(group: String): Counters =
      byGroup.computeIfAbsent(group, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { group =>
        e.stageIds.foreach(s => stageGroup.put(s, group))
        of(group).synchronized { of(group).jobs += 1 }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val c = of(g); c.synchronized { c.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val c = of(g)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.diskBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecords += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

    /** Removes and sums every group whose name starts with `prefix`,
      * per phase suffix.
      */
    def take(prefix: String): (Counters, Counters) = {
      val b, x = new Counters
      byGroup.keySet.asScala.filter(_.startsWith(prefix)).toList.foreach { k =>
        val c = byGroup.remove(k)
        if (k.endsWith(":b")) b.add(c) else x.add(c)
      }
      (b, x)
    }
  }

  /** Optimizer + physical-planning time of every finished query execution,
    * taken from the planning tracker rather than a second plan call.
    */
  final class PlanTime extends QueryExecutionListener {
    /** (start, end) epoch ms of each optimization and planning phase */
    private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
    private def rec(qe: QueryExecution): Unit = synchronized {
      val p = qe.tracker.phases
      phases ++= Seq("optimization", "planning").flatMap(p.get)
        .map(s => (s.startTimeMs, s.endTimeMs))
    }
    def take(): Seq[(Long, Long)] = synchronized {
      val r = phases.toList; phases.clear(); r
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  /** In-memory span log: run → pass → op → {entry, plan, exec}. Times are
    * epoch nanoseconds; ids are reserved up front so a parent can be
    * written after its children.
    */
  final class Spans {
    private val buf = mutable.ArrayBuffer.empty[String]
    private var next = 0
    private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def id(): Int = { next += 1; next }
    def add(id: Int, name: String, parent: Int, startNano: Long, endNano: Long,
            attrs: (String, Any)*): Int = {
      addEpoch(id, name, parent, startNano + offsetNs, endNano + offsetNs, attrs: _*)
    }
    def addEpoch(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                 attrs: (String, Any)*): Int = {
      buf += Json.obj(Seq[(String, Any)]("id" -> id, "parent" -> parent,
        "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs) ++ attrs: _*)
      id
    }
    def json: String = buf.mkString("[", ",\n", "]")
  }

  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use right after the most recent collection, summed over the
    * heap pools (the JVM's collection-usage counters).
    */
  private def postGcHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1e6

  def main(args: Array[String]): Unit = {
    val Array(qs, corpus, seedS, secondsS, traceS, verifyDir, outJson,
      warmTolS, warmCapS) = args
    val queries = qs.split(",").toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val warmTol = warmTolS.toDouble
    val warmMaxS = warmCapS.toDouble
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val cores = sc.defaultParallelism
    val attribution = new Attribution
    sc.addSparkListener(attribution)
    val planTime = new PlanTime
    spark.listenerManager.register(planTime)

    val catalog = graft.SparkEntry.queries
    val fns = queries.map(q => q -> catalog(q))
    def order(tag: Long): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      new Random(seed * 1000003L + tag).shuffle(fns)
    def drain(): Unit = sc.listenerBus.waitUntilEmpty()
    /** Checkpoint and persist storage currently held, memory plus disk. */
    def storageMb(): Double =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

    // --- warm-up: whole passes on this corpus until pass time stops
    // falling, i.e. until the last pass is no more than `warmTol` faster
    // than the pass two before it (so at least four passes, the cold one
    // not compared), or `warmMaxS` is spent. Over two passes, because
    // pass-to-pass noise on a busy machine is as large as one pass's gain.
    // The first, cold pass is also the verification pass: it writes each
    // query's result as parquet for the caller's oracle check instead of
    // discarding it.
    val warm = mutable.ArrayBuffer.empty[Double]
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    def falling: Boolean =
      warm.size < 4 || warm.last < (1 - warmTol) * warm(warm.size - 3)
    while (falling && warm.sum < warmMaxS) {
      val t0 = System.nanoTime()
      order(-1L - warm.size).foreach { case (q, fn) =>
        sc.setJobGroup(s"warm:$q", q)
        try {
          val w = fn(spark, corpus).write.mode("overwrite")
          if (warm.isEmpty) w.parquet(s"$verifyDir/$q") else w.format("noop").save()
        } catch {
          case e: Throwable =>
            if (warm.isEmpty) verifyErrors(q) = String.valueOf(e.getMessage).take(300)
        }
      }
      warm += (System.nanoTime() - t0) / 1e9
    }
    drain()
    attribution.take("warm:")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    /** Times whole passes until `seconds` is spent; returns the window's
      * JSON. With `spans` set, each op is drained and logged separately.
      */
    def window(label: String, spans: Option[Spans]): String = {
      val ops = mutable.ArrayBuffer.empty[String]
      val passes = mutable.ArrayBuffer.empty[String]
      val bTot, xTot = new Counters
      var planMs = 0L
      var boundaryGcMs = 0L
      var heldOpMb = 0.0
      planTime.take()
      var wallS = 0.0
      var pass = 0
      val jit0 = jitMs; val gc0 = gcMs; val (cg0, cgMs0) = codegen
      val runId = spans.map(_.id()).getOrElse(0)
      val runStart = System.nanoTime()
      while (wallS < seconds) {
        val passId = spans.map(_.id()).getOrElse(0)
        val p0 = System.nanoTime()
        order(pass).foreach { case (q, fn) =>
          val op = s"$label:$pass:$q"
          val t0 = System.nanoTime()
          var t1 = t0
          var err: String = null
          try {
            sc.setJobGroup(s"$op:b", q)
            val df = fn(spark, corpus)
            t1 = System.nanoTime()
            sc.setJobGroup(s"$op:x", q)
            df.write.format("noop").mode("overwrite").save()
          } catch {
            case e: Throwable =>
              if (t1 == t0) t1 = System.nanoTime()
              err = String.valueOf(e.getMessage).take(300)
          }
          val t2 = System.nanoTime()
          spans.foreach { sp =>
            drain()
            val (b, x) = attribution.take(s"$op:")
            bTot.add(b); xTot.add(x)
            heldOpMb = math.max(heldOpMb, storageMb())
            val opId = sp.add(sp.id(), "op", passId, t0, t2, "query" -> q,
              "ok" -> (err == null))
            sp.add(sp.id(), "entry", opId, t0, t1, "jobs" -> b.jobs, "tasks" -> b.tasks)
            sp.add(sp.id(), "exec", opId, t1, t2, "jobs" -> x.jobs,
              "stages" -> x.stages, "tasks" -> x.tasks, "task_run_ms" -> x.runMs,
              "shuffle_bytes" -> x.shuffleBytes)
            // plan phases can fall in either entry (eager actions) or exec
            planTime.take().foreach { case (s, e) =>
              planMs += e - s
              sp.addEpoch(sp.id(), "plan", opId, s * 1000000L, e * 1000000L)
            }
          }
          ops += Json.obj("pass" -> pass, "query" -> q,
            "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
            "total_s" -> (t2 - t0) / 1e9, "error" -> err)
        }
        val pWall = (System.nanoTime() - p0) / 1e9
        val pEnd = System.nanoTime()
        wallS += pWall
        // between passes, off the clock: settle listeners, read what
        // checkpoint/persist storage the pass left behind.
        drain()
        if (spans.isEmpty) {
          val (b, x) = attribution.take(s"$label:$pass:")
          bTot.add(b); xTot.add(x)
        }
        val heldMb = storageMb()
        // live set at the pass boundary: the heap in use after a full
        // collection, block store included. Collect, give the
        // ContextCleaner its poll interval to release the broadcasts and
        // checkpoints the collection freed, collect again. The collections
        // also start every pass from the same heap state.
        val g0 = gcMs
        System.gc()
        Thread.sleep(150)
        System.gc()
        boundaryGcMs += gcMs - g0
        val liveMb = postGcHeapMb
        spans.foreach(_.add(passId, "pass", runId, p0, pEnd, "pass" -> pass))
        passes += Json.obj("pass" -> pass, "wall_s" -> pWall, "held_mb" -> heldMb,
          "live_heap_mb" -> liveMb)
        pass += 1
      }
      spans.foreach(_.add(runId, "run", 0, runStart, System.nanoTime(),
        "label" -> label))
      val (cg1, cgMs1) = codegen
      if (spans.isEmpty) planMs = planTime.take().map { case (s, e) => e - s }.sum
      Json.obj(
        "wall_s" -> wallS, "passes" -> Json.raw(passes.mkString("[", ",", "]")),
        "ops" -> Json.raw(ops.mkString("[\n", ",\n", "]")),
        "build" -> Json.raw(bTot.json), "exec" -> Json.raw(xTot.json),
        "plan_ms" -> planMs, "jit_ms" -> (jitMs - jit0),
        "gc_ms" -> (gcMs - gc0 - boundaryGcMs), "held_op_max_mb" -> heldOpMb,
        "codegen_count" -> (cg1 - cg0),
        // the histogram keeps every sample until it holds 1028; past
        // that the delta of its sample sum is an estimate
        "codegen_ms" -> math.max(0.0, cgMs1 - cgMs0))
    }

    val untraced = window("timed", None)
    val spans = new Spans
    // a traced run brackets its traced window with a second untraced one,
    // so the overhead estimate is not biased by warm-up still going on
    val tracedJson = if (traced) window("traced", Some(spans)) else "null"
    val untracedAfter = if (traced) window("timed2", None) else "null"

    Files.writeString(Paths.get(outJson), Json.obj(
      "setup_s" -> setupS, "cores" -> cores, "warmup_capped" -> falling,
      "warmup_pass_s" -> Json.raw(
        warm.map(Json.num).mkString("[", ",", "]")),
      "untraced" -> Json.raw(untraced), "traced" -> Json.raw(tracedJson),
      "untraced_after" -> Json.raw(untracedAfter),
      "verify_errors" -> Json.raw(Json.obj(verifyErrors.toSeq: _*)),
      "spans" -> Json.raw(if (traced) spans.json else "null")))
    spark.stop()
  }
}

/** Minimal JSON writer: the client emits only flat numbers, strings,
  * nulls and pre-rendered fragments.
  */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => num(d)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Writes `SparkEntry.oracleSql` (query -> DuckDB SQL) as one JSON object.
  * Usage: OracleSql <outJson>
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)),
      Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1): _*))
}
