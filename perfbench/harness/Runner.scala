package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry

/** The benchmark's JVM. `run` sets up a session the way `graft.Bench`
  * does, then runs the given rounds of keys one at a time (a closed
  * loop with one client); a round that would start after the time
  * budget is spent is skipped. Each key is built through
  * `SparkEntry.queries` and then timed on [[Digest]]. Results go to a
  * tab-separated file that `perfbench/run.py` reads.
  *
  * With `trace=1` the keys alternate traced and untraced in the
  * pattern T U U T, so that the traced figures and the tracing
  * overhead come from the same run; traced keys also force the
  * physical plan of the digest aggregate as a phase of its own, and
  * count the shape of the final (adaptive) plan once it has run.
  *
  * Usage: `Runner keys out=<file>` or
  * `Runner run sf=<dir> root=<dir> cpus=<n> seconds=<s> trace=<0|1>
  *   rounds=<file> out=<file> spans=<file> run=<id> launch_ms=<epoch ms>`.
  */
object Runner {
  def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]+", " ") + "\""

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def clean(s: String): String = s.replaceAll("[\\t\\r\\n]+", " ").take(300)

  private def setUp(cpus: Int, root: String, sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.graft.sink.root", s"$root/sink")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.size
    warmUp(spark, sfDir)
    spark
  }

  /** The warm-up query of `graft.Bench`. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()

  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    args(0) match {
      case "keys" => Files.write(Paths.get(opt("out")), SparkEntry.queries.keys.toSeq.sorted.asJava)
      case "run"  => run(opt)
    }
  }

  private def run(opt: Map[String, String]): Unit = {
    // Adoption reuses an IVF index built by an earlier process, which
    // would move that build out of the measured run.
    require(!sys.props.contains("graft.ivf.adopt"), "refusing to run with -Dgraft.ivf.adopt set")
    val sf = opt("sf"); val root = opt("root"); val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val rounds = Files.readAllLines(Paths.get(opt("rounds"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq)
    val out = new StringBuilder
    def emit(fields: Any*): Unit = out ++= fields.mkString("\t") + "\n"

    val spark = setUp(cpus, root, sf)
    emit("SETUP", (System.currentTimeMillis() - opt("launch_ms").toLong) / 1e3)
    val sc = spark.sparkContext
    val tr = if (opt("trace") == "1") Some(new Trace(opt("run"))) else None
    val shapes = mutable.ArrayBuffer[(String, Map[String, Long])]()

    /** Runs `body` as phase `name` of `owner`; traced, it tags the
      * thread, records the interval and opens a span under `parent`. */
    def phase[T](owner: String, name: String, parent: Int, traced: Boolean)(body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      if (traced) { sc.setLocalProperty(tr.get.KeyProp, owner); sc.setLocalProperty(tr.get.PhaseProp, name) }
      try {
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      } finally if (traced) {
        val t = tr.get; val ms1 = System.currentTimeMillis()
        sc.setLocalProperty(t.KeyProp, null); sc.setLocalProperty(t.PhaseProp, null)
        t.intervals += t.Interval(owner, name, ms0, ms1, t.span(parent, name, ms0, ms1))
      }
    }

    def runKey(r: Int, key: String, traced: Boolean): Unit = {
      var build, plan, action = 0.0
      var rows = -1L; var dig = ""; var err = ""
      val c0 = cpuS; val w0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      val cg0 = CodeGenerator.compileTime; val src0 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
      val keySpan = tr.filter(_ => traced).map(_.span(0, s"key:$key", ms0, ms0)).getOrElse(0)
      try {
        val (df, b) = phase(key, "build", keySpan, traced)(SparkEntry.queries(key)(spark, sf))
        build = b
        val (agg, p) =
          if (traced) phase(key, "plan", keySpan, traced) {
            val agg = Digest(df); agg.queryExecution.executedPlan; agg
          } else (Digest(df), 0.0)
        plan = p
        val ((n, d), a) = phase(key, "action", keySpan, traced)(Digest.collect(agg))
        action = a; rows = n; dig = d
        if (traced) shapes += key -> PlanShape(agg.queryExecution.executedPlan)
      } catch {
        case e: Throwable => err = clean(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
      }
      val wall = (System.nanoTime() - w0) / 1e9; val cpu = cpuS - c0
      val leaked = spark.streams.active
      if (leaked.nonEmpty) {
        leaked.foreach(_.stop())
        if (err.isEmpty) err = s"left ${leaked.length} streaming queries running"
      }
      tr.filter(_ => traced).foreach(_.close(keySpan, System.currentTimeMillis()))
      emit("KEY", r, key, if (traced) 1 else 0, build, plan, action, wall, cpu, rows, dig,
        (CodeGenerator.compileTime - cg0) / 1e6,
        CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - src0, err)
    }

    def listen(t: Trace, on: Boolean): Unit =
      if (on) sc.addSparkListener(t.listener)
      else {
        ListenerBusDrain(sc)
        sc.removeSparkListener(t.listener)
      }

    Calibrate(cpus) // compiles the calibration code before it is timed
    emit("CAL", Calibrate(cpus))
    val t0 = System.nanoTime()
    var r = 0; var n = 0
    while (r < rounds.size && (seconds <= 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      rounds(r).foreach { k =>
        val traced = tr.isDefined && (n % 4 == 0 || n % 4 == 3)
        if (traced) listen(tr.get, on = true)
        runKey(r, k, traced)
        if (traced) listen(tr.get, on = false)
        n += 1
      }
      emit("CAL", Calibrate(cpus))
      r += 1
    }
    // Heap the keys left behind. The set-up query runs once more so
    // that state held for the last query is the same in every order;
    // then a full GC, a pause for Spark's ContextCleaner to drop what
    // that GC made unreachable, and another full GC.
    warmUp(spark, sf)
    System.gc(); Thread.sleep(500); System.gc()
    emit("HEAP", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    emit("RETAINED", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)

    tr.foreach { t =>
      listen(t, on = true)
      Probe.run(spark, sf, name => body => {
        val owner = s"#probe:$name"
        val ms0 = System.currentTimeMillis()
        val s = t.span(0, owner, ms0, ms0)
        phase(owner, "action", s, traced = true)(body)
        t.close(s, System.currentTimeMillis())
      }).foreach { case (n, v) => emit("FUNC", n, v) }
      listen(t, on = false)
      val at = t.attribute()
      at.byPhase.foreach { case ((owner, ph), a) =>
        emit("LAYER", owner, ph, a.jobs, a.stages, a.tasks, a.failedTasks, a.runMs, a.cpuNs, a.gcMs,
          a.inBytes, a.inRows, a.shWrite, a.shRead, a.spill, a.outBytes, a.outRows, a.peakMem)
      }
      val a = t.totals
      emit("TOTAL", a.jobs, a.stages, a.tasks, a.cpuNs)
      emit("UNATTRIBUTED", at.unattributed)
      at.streaming.foreach { case (owner, m) =>
        emit(("STREAM" +: owner +: StreamNames.map(m)): _*)
      }
      shapes.foreach { case (k, m) => emit(("SHAPE" +: k +: PlanShape.names.map(m)): _*) }
      t.writeSpans(opt("spans"))
    }
    emit("JVM", gcS, ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
    spark.stop()
    Files.writeString(Paths.get(opt("out")), out.toString)
  }

  val StreamNames: Seq[String] =
    Seq("queries", "batches", "batch_s", "input_rows", "state_rows", "state_commit_ms")
}
