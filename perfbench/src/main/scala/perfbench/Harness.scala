package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: one closed-loop client running one workload.
  *
  * Phases: session start; a check pass that doubles as the warm-up (each
  * query's DataFrame written to parquet for the oracle check); then timed
  * passes, in a seeded order, until `seconds` have gone and at least
  * `min_passes` ran. The first timed pass still runs ~30% slower than the
  * plateau after it, so the reported figures are medians over passes.
  *
  * A timed execution is the query function's call (build, including the
  * operators' eager jobs) followed by the `noop` sink on the returned
  * DataFrame (execute). In an untraced pass a full GC after each query,
  * outside the timed interval, gives the heap the query left live. In trace
  * mode untraced and traced passes alternate; a traced pass attaches the
  * [[Tracer]] and runs its queries back to back, with one GC after the
  * pass span, so the pass span holds nothing but query spans and the
  * harness's bookkeeping between them.
  *
  * Usage: Harness <run.properties>; writes result.json (and spans.json in
  * trace mode) into the properties' `out` directory. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Self-test queries: one throws; one returns q01's output with one
    * column shifted by a cent and is checked against q01's oracle; one
    * returns q01's output on its first call (the check pass) and throws on
    * every later (timed) call. */
  private val planted: Map[String, (Query, Option[String])] = {
    val q01 = graft.SparkEntry.queries("q01_sliding_basic")
    var flakyCalls = 0
    Map(
      "plant_throw" -> (((_: SparkSession, _: String) =>
        throw new IllegalStateException("planted failure")), None),
      "plant_wrong" -> (((s: SparkSession, dir: String) =>
        q01(s, dir).withColumn("value_sum", col("value_sum") + 0.01)),
        Some("q01_sliding_basic")),
      "plant_flaky" -> (((s: SparkSession, dir: String) => {
        flakyCalls += 1
        if (flakyCalls > 1) throw new IllegalStateException("planted timed failure")
        q01(s, dir)
      }), Some("q01_sliding_basic")))
  }

  private def query(name: String): Query =
    planted.get(name).map(_._1).getOrElse(graft.SparkEntry.queries(name))

  private def oracle(name: String): Option[String] =
    planted.get(name).fold(graft.SparkEntry.oracleSql.get(name))(
      _._2.flatMap(graft.SparkEntry.oracleSql.get))

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(300)

  /** The query a write command consumes, with the file writer's own
    * WriteFiles node stripped so a parquet and a noop write compare. */
  private def writeQuery(qes: Seq[QueryExecution]): Option[LogicalPlan] =
    qes.iterator.flatMap(qe => qe.optimizedPlan.collectFirst {
      case w: V2WriteCommand => w.query
      case c: DataWritingCommand => c.query
    }).toSeq.lastOption.map(_.transformDown { case w: WriteFiles => w.child })

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    conf.load(new FileInputStream(args(0)))
    def get(k: String): String = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing property $k"))
    val data = get("data")
    val out = get("out")
    val seconds = get("seconds").toDouble
    val trace = get("trace") == "1"
    val seed = get("seed").toLong
    val cores = get("cores").toInt
    val xmxMb = get("xmx_mb").toLong
    val minPasses = get("min_passes").toInt
    val names = get("queries").split(",").toSeq
    val modules = get("modules").split(",").toSeq
    val moduleOf = names.zip(modules).toMap

    val heapMb = Runtime.getRuntime.maxMemory >> 20
    if (math.abs(heapMb - xmxMb) > xmxMb / 50) {
      System.err.println(s"[perfbench] heap is $heapMb MB, pinned $xmxMb MB")
      sys.exit(3)
    }
    val unknown = names.filterNot(n => planted.contains(n) ||
      graft.SparkEntry.queries.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", get("shuffle_partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val rng = new scala.util.Random(seed)
    val checkFailures, timedFailures = mutable.LinkedHashMap.empty[String, String]

    // ---- check pass (warm-up) -------------------------------------------
    // Writes each query's output to parquet for the oracle check. With
    // plan_check=1 (the self-test) it first runs the timed action on the
    // same DataFrame and asserts that both writes consumed the same
    // optimized plan.
    val planCheck = get("plan_check") == "1"
    val captured = mutable.ArrayBuffer.empty[QueryExecution]
    val capture = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured.synchronized(captured += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def planOf(action: => Unit): Option[LogicalPlan] = {
      captured.synchronized(captured.clear())
      action
      PerfbenchBus.drain(sc)
      writeQuery(captured.synchronized(captured.toSeq))
    }
    if (planCheck) spark.listenerManager.register(capture)
    for (name <- rng.shuffle(names)) {
      try {
        val df = query(name)(spark, data)
        val check = df.write.mode("overwrite")
        if (!planCheck) check.parquet(s"$out/check/$name")
        else {
          val timed = planOf(df.write.format("noop").mode("overwrite").save())
          val checked = planOf(check.parquet(s"$out/check/$name"))
          (timed, checked) match {
            case (Some(t), Some(c)) if t.sameResult(c) => ()
            case (t, c) => checkFailures(name) = "plan mismatch: the timed action ran " +
              s"${t.map(_.nodeName).getOrElse("no write")} over a plan that is not " +
              s"the checked ${c.map(_.nodeName).getOrElse("no write")} plan"
          }
        }
      } catch { case e: Throwable => checkFailures(name) = message(e) }
    }
    if (planCheck) spark.listenerManager.unregister(capture)
    Json.write(s"$out/oracle_sql.json", names.flatMap(n => oracle(n).map(n -> _)).toMap)

    // ---- timed passes ---------------------------------------------------
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    val spans = new Spans
    val runSpan = spans.open(0, "run", "run")
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val samples = mutable.ArrayBuffer.empty[(String, Int, Double, Double)]
    var timedAttempted, timedFailed = 0
    val memory = ManagementFactory.getMemoryMXBean
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds ||
        (trace && !passes.exists(_.traced))) {
      val traced = trace && passes.size % 2 == 1
      val tracer = if (traced) Some(Tracer.attach(spark)) else None
      val pass = passes.size
      val passSpan = spans.open(runSpan, "pass", s"pass$pass")
      val qspans = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      var wall, liveHeap = 0.0
      for (name <- rng.shuffle(names)) {
        val qs = spans.open(passSpan, "query", name)
        val bs = spans.open(qs, "build", name)
        sc.setLocalProperty(Tracer.SpanKey, bs.toString)
        timedAttempted += 1
        try {
          val a = System.nanoTime()
          val df = query(name)(spark, data)
          val b = System.nanoTime()
          spans.close(bs)
          val es = spans.open(qs, "execute", name)
          sc.setLocalProperty(Tracer.SpanKey, es.toString)
          df.write.format("noop").mode("overwrite").save()
          val c = System.nanoTime()
          spans.close(es)
          samples += ((name, pass, (b - a) / 1e9, (c - b) / 1e9))
          qspans += ((name, qs, bs, es))
        } catch { case e: Throwable =>
          timedFailed += 1
          timedFailures.getOrElseUpdate(name, message(e))
        }
        sc.setLocalProperty(Tracer.SpanKey, null)
        spans.closeAll(qs)
        wall += spans.seconds(qs)
        if (!traced) {
          System.gc()
          liveHeap = math.max(liveHeap, memory.getHeapMemoryUsage.getUsed / 1048576.0)
        }
      }
      spans.close(passSpan)
      if (traced) {
        System.gc()
        liveHeap = memory.getHeapMemoryUsage.getUsed / 1048576.0
      }
      val layers = tracer.map(_.detach(spark, spans, passSpan, wall, qspans.toSeq, moduleOf))
      passes += PassRec(pass, traced, wall, liveHeap, layers)
    }
    spans.close(runSpan)
    spark.stop()

    Json.write(s"$out/result.json", Map(
      "setup_s" -> setupS,
      "heap_max_mb" -> heapMb,
      "spark_version" -> spark.version,
      "timed_attempted" -> timedAttempted,
      "timed_failed" -> timedFailed,
      "check_failures" -> checkFailures.toMap,
      "timed_failures" -> timedFailures.toMap,
      "passes" -> passes.map(_.json).toSeq,
      "samples" -> samples.map { case (q, p, b, e) => Seq(q, p, b, e) }.toSeq))
    if (trace) Json.write(s"$out/spans.json", spans.json)
  }

  final case class PassRec(index: Int, traced: Boolean, wallS: Double,
      liveHeapMb: Double, layers: Option[Map[String, Double]]) {
    def json: Map[String, Any] = Map("index" -> index, "traced" -> traced,
      "wall_s" -> wallS, "live_heap_mb" -> liveHeapMb) ++ layers.map("layers" -> _)
  }
}

/** Prints the library's gated query names, one a line. */
object ListQueries {
  def main(args: Array[String]): Unit =
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
}

/** In-memory span store: name, kind, parent, start and end on the
  * driver's monotonic clock, written out once at the end of the run. */
final class Spans {
  import Spans.Span
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Long, Span]
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()

  def open(parent: Long, kind: String, name: String): Long = synchronized {
    val s = Span(all.size + 1L, parent, kind, name, System.nanoTime())
    all += s; byId(s.id) = s; s.id
  }
  def close(id: Long): Unit = synchronized {
    val s = byId(id); if (s.end < 0) s.end = System.nanoTime()
  }
  /** Closes `id` and every still-open span below it. */
  def closeAll(id: Long): Unit = synchronized {
    all.filter(s => s.end < 0 && (s.id == id || s.parent == id)).foreach(s => close(s.id))
  }
  /** Adds a span whose bounds come from listener event times (epoch ms). */
  def addEpoch(parent: Long, kind: String, name: String, startMs: Long, endMs: Long,
      attrs: Map[String, Double]): Unit = synchronized {
    val toNano = (ms: Long) => nanoBase + (ms - msBase) * 1000000L
    val s = Span(all.size + 1L, parent, kind, name, toNano(startMs), toNano(endMs))
    s.attrs ++= attrs; all += s; byId(s.id) = s
  }
  def bounds(id: Long): (Long, Long) = synchronized { val s = byId(id); (s.start, s.end) }
  def children(id: Long): Seq[(Long, Long)] = synchronized {
    all.filter(_.parent == id).map(s => (s.start, s.end)).toSeq
  }
  def seconds(id: Long): Double = { val (a, b) = bounds(id); (b - a) / 1e9 }

  /** Length of the union of `intervals` clipped to [lo, hi], in ns. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((a, b) <- intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (b > reach) { total += b - math.max(a, reach); reach = b }
    }
    total
  }

  def json: Seq[Map[String, Any]] = synchronized {
    all.toSeq.map { s =>
      val self = (s.end - s.start) - covered(children(s.id), s.start, s.end)
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> (s.start - nanoBase) / 1e6, "end_ms" -> (s.end - nanoBase) / 1e6,
        "self_ms" -> self / 1e6) ++
        (if (s.attrs.isEmpty) Nil else Seq("attrs" -> s.attrs.toMap))
    }
  }
}

object Spans {
  private final case class Span(id: Long, parent: Long, kind: String, name: String,
      start: Long, var end: Long = -1L, attrs: mutable.Map[String, Double] = mutable.Map())
}

/** Writes Scala maps and sequences as JSON with Spark's bundled Jackson. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, value: Any): Unit = mapper.writeValue(new File(path), value)
}
