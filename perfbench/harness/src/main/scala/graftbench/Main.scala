package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.SparkEntry
import graft.operators.Ops
import graft.sources.{Readers, Writers}
import graft.types.DetectTypes

/** Runs one benchmark workload in one JVM and writes what it measured as JSON
  * lines. It only measures and records; `run.py` turns the records into
  * metrics and compares results with the expected ones.
  *
  * Usage: graftbench.Main <plan.json> <records.jsonl>
  *
  * The plan names the workload, its ops in run order, the seconds to measure
  * and whether to trace. A run is:
  *   1. session start;
  *   2. the check pass: every op once, outside the timed window, with the
  *      results recorded for checking, then `WarmPasses` more untimed
  *      passes (all of this is the JIT warm-up);
  *   3. the timed window: whole passes over the ops until the measured
  *      seconds have elapsed; each op is closed loop, one client;
  *   4. a compute probe, loadavg and /proc/stat at the start, middle and
  *      end of the timed window.
  * With tracing on, passes alternate untraced and traced, at least three
  * (untraced, traced, untraced), so one run gives both the per-layer records
  * and the tracing overhead.
  */
object Main {
  implicit val formats: Formats = DefaultFormats
  /** Untimed passes after the check pass. */
  val WarmPasses = 1

  private val records = mutable.ArrayBuffer[JValue]()
  private def emit(v: JValue): Unit = records.synchronized { records += v }
  private def now(): Double = System.nanoTime() / 1e9
  private def wallMs(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val plan = parse(new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val out = args(1)
    val workload = (plan \ "workload").extract[String]
    val cpus = (plan \ "cpus").extract[Int]
    val seconds = (plan \ "seconds").extract[Double]
    val trace = (plan \ "trace").extract[Boolean]
    val workDir = (plan \ "work_dir").extract[String]

    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    emit(("kind" -> "session") ~ ("jvm_start_ms" -> jvmStartMs) ~ ("ready_ms" -> wallMs()))

    val ops: Seq[Op] = workload match {
      case "ingest_roundtrip" =>
        ingestOps((plan \ "csv").extract[String], s"$workDir/ingest_out")
      case _ =>
        val dataDir = (plan \ "data_dir").extract[String]
        (plan \ "queries").extract[Seq[String]].map(QueryOp(_, dataDir))
    }
    val tracer = if (trace) Some(new Tracer(spark, emit)) else None
    try run(spark, ops, seconds, tracer, cpus)
    finally {
      tracer.foreach(_.stop())
      emit(("kind" -> "end") ~ ("rss_peak_kb" -> vmHwmKb()) ~ ("gc_s" -> gcSeconds()))
      val text = records.map(r => compact(render(r))).mkString("", "\n", "\n")
      Files.write(Paths.get(out), text.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  private def run(spark: SparkSession, ops: Seq[Op], seconds: Double,
                  tracer: Option[Tracer], cpus: Int): Unit = {
    val trace = tracer.isDefined
    // drop the blocks each op cached (the iterative operators localCheckpoint
    // their inputs), as graft.Bench does, so later ops are not measured
    // against the dead blocks of earlier ones
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    def cleanup(): Unit = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) }.values.foreach(_.unpersist(blocking = true))

    def runOp(op: Op, pass: Int, phase: String): Unit = {
      val id = s"$pass:${op.name}"
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.OpKey, id)
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val t0 = now()
      val s0 = wallMs()
      val c0 = cpuSeconds()
      var buildEnd = t0
      val res = try {
        val r = op.run(spark, phase == "check", () => {
          buildEnd = now()
          sc.setLocalProperty(Tracer.PhaseKey, "exec")
        })
        Right(r)
      } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val t2 = now()
      val s2 = wallMs()
      val c2 = cpuSeconds()
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      cleanup()
      val base = ("kind" -> "op") ~ ("id" -> id) ~ ("name" -> op.name) ~ ("pass" -> pass) ~
        ("phase" -> phase) ~ ("start_ms" -> s0) ~ ("end_ms" -> s2) ~
        ("build_s" -> (buildEnd - t0)) ~ ("exec_s" -> (t2 - buildEnd)) ~ ("wall_s" -> (t2 - t0)) ~
        ("cpu_s" -> (c2 - c0))
      emit(res match {
        case Right(r) => base ~ ("ok" -> true) ~ ("result" -> r)
        case Left(err) => base ~ ("ok" -> false) ~ ("error" -> err)
      })
    }

    def probe(at: String): Unit = {
      val t0 = now()
      spark.range(0, 1L << 25, 1, cpus)
        .selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
      emit(("kind" -> "probe") ~ ("at" -> at) ~ ("probe_s" -> (now() - t0)) ~
        ("loadavg" -> loadavg()) ~ ("cpu_jiffies" -> procStatCpu()) ~ ("gc_s" -> gcSeconds()))
    }

    // check pass, then more warm-up: one pass after a cold start still runs
    // well above steady state (JIT), and the probe keeps speeding up
    ops.foreach(runOp(_, 0, "check"))
    for (w <- 1 to WarmPasses) ops.foreach(runOp(_, -w, "warm"))
    emit(("kind" -> "timed_start") ~ ("at_ms" -> wallMs()))
    probe("start")

    var pass = 1
    var measured = 0.0
    var midDone = false
    while (measured < seconds || (trace && pass <= 3)) {
      val traced = trace && pass % 2 == 0
      if (traced) tracer.foreach(_.start())
      val (t0, gc0, cpu0) = (now(), gcSeconds(), cpuSeconds())
      ops.foreach(runOp(_, pass, if (traced) "traced" else "timed"))
      val dt = now() - t0
      if (traced) tracer.foreach(_.stop())
      emit(("kind" -> "pass") ~ ("pass" -> pass) ~ ("traced" -> traced) ~ ("wall_s" -> dt) ~
        ("gc_s" -> (gcSeconds() - gc0)) ~ ("cpu_s" -> (cpuSeconds() - cpu0)))
      measured += dt
      pass += 1
      if (!midDone && measured >= seconds / 2) { probe("mid"); midDone = true }
    }
    probe("end")
  }

  // ------------------------------------------------------------------- ops

  /** One closed-loop operation. `run` builds, calls `built()` when the
    * DataFrame is built and the counted action starts, and returns the
    * result the check compares. */
  trait Op {
    def name: String
    def run(spark: SparkSession, check: Boolean, built: () => Unit): JValue
  }

  /** One registry query: build the DataFrame, then `.count()` — the same op
    * graft.Bench times. The check pass counts and hashes instead. */
  final case class QueryOp(name: String, dataDir: String) extends Op {
    def run(spark: SparkSession, check: Boolean, built: () => Unit): JValue = {
      val df = SparkEntry.queries(name)(spark, dataDir)
      built()
      if (check) {
        val (rows, hash) = ResultHash.of(df)
        ("rows" -> rows) ~ ("hash" -> hash)
      } else ("rows" -> df.count())
    }
  }

  /** The ingest round trip: read, detect, cast, dedup + aggregate, write
    * NDJSON, write CSV. Each step is one op; later steps rebuild from the
    * previous steps' outputs as a user's script would. */
  def ingestOps(csv: String, outDir: String): Seq[Op] = {
    var raw: DataFrame = null
    var detected: DetectTypes.Result = null
    def casted = DetectTypes.typeCast(raw, detected.types)
    def step(n: String)(f: (SparkSession, Boolean) => JValue): Op = new Op {
      val name = n
      def run(spark: SparkSession, check: Boolean, built: () => Unit): JValue = {
        built(); f(spark, check)
      }
    }
    Seq(
      step("read") { (spark, check) =>
        raw = Readers.csv(spark, csv)
        ("columns" -> raw.columns.toList) ~
          ("rows" -> (if (check) JInt(raw.count()) else JNothing))
      },
      step("detect") { (_, _) =>
        detected = DetectTypes.detect(raw)
        JObject(detected.types.map(t => t.id -> JString(t.mezaType)).toList)
      },
      step("cast") { (_, check) =>
        casted.write.format("noop").mode("overwrite").save()
        if (check) ("rows" -> casted.count()) else JNothing
      },
      step("dedup_agg") { (_, _) =>
        val agg = Ops.groupAgg(Ops.unique(casted, Seq("id")), Seq("category"),
          Seq("n" -> ("count", "id"), "amount" -> ("dsum", "amount")))
        JObject(agg.collect().toList.map { r =>
          r.getString(0) -> (("n" -> r.getLong(1)) ~
            ("amount_cents" -> math.round(r.getDouble(2) * 100)))
        })
      },
      step("write_ndjson") { (_, _) =>
        Writers.ndjson(casted, s"$outDir/ndjson")
        ("bytes" -> dirBytes(s"$outDir/ndjson"))
      },
      step("write_csv") { (_, _) =>
        Writers.csv(casted, s"$outDir/csv")
        ("bytes" -> dirBytes(s"$outDir/csv"))
      })
  }

  private def dirBytes(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-")).map(_.length).sum

  // ------------------------------------------------------------ host state

  private def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** CPU seconds this process has used, on all its threads. */
  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    * irq softirq steal, in jiffies; empty where the file is missing. */
  private def procStatCpu(): List[Long] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).getOrElse("")
      line.split("\\s+").toList.drop(1).take(8).map(_.toLong)
    } catch { case NonFatal(_) => Nil }

  /** Peak resident set of this process (VmHWM), in kB; -1 if unknown. */
  private def vmHwmKb(): Long =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    } catch { case NonFatal(_) => -1L }
}

/** An order-independent fingerprint of a query result: the row count and the
  * sum of one 64-bit hash per row, in a single job. Floating-point values
  * are hashed at 9 significant digits, so a last-bit difference in a
  * shuffled double sum does not read as a wrong result. */
object ResultHash {
  def of(df: DataFrame): (Long, String) = {
    // positional names: a result may carry duplicate column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val r = named.select(xxhash64(lit(0) +: cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }
}
