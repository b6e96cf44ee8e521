package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark of the reference's CLI chain, one client, run
  * in-process: each step calls a `graft.cli` main exactly as a user
  * would, and each main builds and stops its own session.
  *
  * {{{
  * Main --workload etl-ref|etl-wide --seed N --seconds S --trace 0|1
  *      --work DIR --out ARTIFACT.json
  * }}}
  *
  * Set-up (timed as `setup_s`): input generation, repeated three times
  * with the median kept, one unchecked warm-up pass, and a wait for the
  * JIT compiler to go idle. Then a fixed number of timed passes, about
  * `--seconds` worth on a 4-core box; every pass is checked, and the
  * artifact reports per-pass figures and their medians. `--trace 1` adds
  * the scheduler listener and the per-layer figures. Everything the run
  * writes lives under `--work`, which is also `java.io.tmpdir`.
  */
object Main {

  final class ExitTrapped(val code: Int) extends SecurityException(s"exit($code)")

  /** Turns the in-process `sys.exit` of a main into an exception. */
  private object ExitTrap extends SecurityManager {
    override def checkPermission(p: java.security.Permission): Unit = ()
    override def checkPermission(p: java.security.Permission, ctx: Any): Unit = ()
    override def checkExit(status: Int): Unit = throw new ExitTrapped(status)
  }

  /** One `main` call's outcome. */
  final case class Call(main: String, wallS: Double, stdout: String, error: Option[String])

  /** @param passS a timed pass's wall time on a 4-core box; the run makes
    *              `round(--seconds / passS)` timed passes, at least one, so
    *              the pass count does not depend on how fast the host
    *              happens to be. Its steal comes in bursts of seconds, so
    *              the median of two or three passes beats a second warm-up
    *              pass (BENCH.md has the figures).
    */
  final case class Workload(
      name: String,
      passS: Double,
      generate: (Path, Long) => Expect,
      steps: (Path, Path, Expect) => Seq[(String, Array[String] => Unit, Array[String])])

  /** What the checks compare against. */
  final case class Expect(
      fanout: Map[(String, String), Long],
      prefixRows: Map[String, Int],
      agg: Option[Gen.AggExpect])

  /** Sizes of the two ETL workloads; BENCH.md says why. */
  val RefFiles = 3
  val RefStores = 20
  val AggRows = 4000
  val AggStores = 8
  val WideFiles = 8
  val WideTemplates = 4
  val WideStores = 10

  private def fanoutSteps(in: Path, out: Path) = Seq(
    ("FanOutMain", graft.cli.FanOutMain.main _,
      Array("--input-dir", in.resolve("fanout").toString, "--output-dir", out.resolve("fanout").toString)),
    ("VerifyFanoutMain", graft.cli.VerifyFanoutMain.main _,
      Array("--input-dir", in.resolve("fanout").toString, "--output-dir", out.resolve("fanout").toString)))

  val workloads: Map[String, Workload] = Map(
    "etl-ref" -> Workload("etl-ref", 15.0,
      (in, seed) => {
        Gen.csvGenInput(in.resolve("fanout"), seed, RefFiles, RefStores)
        val agg = Gen.aggregateInput(in.resolve("aggregate"), seed, AggRows, AggStores)
        val (c, p) = Gen.fanoutCounts(in.resolve("fanout"))
        Expect(c, p, Some(agg))
      },
      (in, out, e) => fanoutSteps(in, out) ++ Gen.Configs.map { k =>
        ("AggregateMain", graft.cli.AggregateMain.main _,
          Array("--config", k, "--input-dir", in.toString, "--output-dir", out.resolve("agg").toString))
      } :+ (("PresenceMain", graft.cli.PresenceMain.main _,
        Array("--store", e.agg.get.probe, "--input-dir", in.toString)))),
    "etl-wide" -> Workload("etl-wide", 8.5,
      (in, seed) => {
        Gen.wideInput(in.resolve("fanout"), seed, WideFiles, WideTemplates, WideStores)
        val (c, p) = Gen.fanoutCounts(in.resolve("fanout"))
        Expect(c, p, None)
      },
      (in, out, _) => fanoutSteps(in, out)))

  val Mains = Seq("FanOutMain", "VerifyFanoutMain", "AggregateMain", "PresenceMain")

  // ---- process probes ------------------------------------------------

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private val clkTck = sys.props.getOrElse("perfbench.clk_tck", "100").toDouble

  /** CPU seconds of the JIT compiler threads, from `/proc/self/task`.
    * The JVM runs with a fixed set of compiler threads
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so no compiler time is
    * lost to a thread that ends between two readings.
    */
  private def jitCpuS: Double = children(Paths.get("/proc/self/task")).map { t =>
    try {
      val st = new String(Files.readAllBytes(t.resolve("stat")), UTF_8)
      val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
      if (!name.startsWith("C1 Compiler") && !name.startsWith("C2 Compiler")) 0.0
      else {
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) / clkTck
      }
    } catch { case _: java.io.IOException => 0.0 } // thread ended meanwhile
  }.sum

  /** Host-wide steal seconds (all CPUs), from `/proc/stat`; a label only. */
  private def stealS: Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong / clkTck else 0.0
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  // ---- files ---------------------------------------------------------

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq finally s.close()
    }

  def wipe(p: Path): Unit = {
    walk(p).reverse.foreach(Files.deleteIfExists)
    ()
  }

  private def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() }

  private def countLines(p: Path): Long = {
    val b = Files.readAllBytes(p)
    val n = b.count(_ == '\n').toLong
    if (b.nonEmpty && b.last != '\n') n + 1 else n
  }

  // ---- one main call -------------------------------------------------

  def call(name: String, main: Array[String] => Unit, args: Array[String]): Call = {
    val buf = new ByteArrayOutputStream()
    val t0 = System.nanoTime()
    val err = Trace.span(name) {
      System.setSecurityManager(ExitTrap)
      try {
        Console.withOut(new PrintStream(buf, true, "UTF-8"))(main(args))
        None
      } catch {
        case e: ExitTrapped => Some(s"exit code ${e.code}")
        case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
      } finally System.setSecurityManager(null)
    }
    Call(name, secs(t0), buf.toString("UTF-8"), err)
  }

  // ---- checks --------------------------------------------------------

  /** Operations attempted (main calls and checks) and one message per failure. */
  final class Checker {
    var checks = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def check(what: String)(ok: => Option[String]): Unit = {
      checks += 1
      val r = try ok catch { case e: Throwable => Some(s"check threw $e") }
      r.foreach(m => failures += s"$what: $m")
    }
  }

  def checkPass(e: Expect, out: Path, calls: Seq[Call], c: Checker): Unit = {
    c.check("fan-out conserves rows") {
      val fan = out.resolve("fanout")
      val got = children(fan).filter(Files.isDirectory(_)).flatMap { d =>
        children(d).filter(_.getFileName.toString.endsWith(".csv")).map { f =>
          val src = f.getFileName.toString.stripSuffix(".csv")
          (d.getFileName.toString, src) ->
            (countLines(f) - 1 - e.prefixRows.getOrElse(src, 0))
        }
      }.toMap
      val bad = (got.keySet ++ e.fanout.keySet).toSeq.sorted
        .filter(k => got.get(k) != e.fanout.get(k))
      if (bad.isEmpty) None
      else Some(s"${bad.length} (store, src) pairs differ, e.g. " + bad.take(3).map { k =>
        s"$k expected ${e.fanout.get(k)} got ${got.get(k)}" }.mkString("; "))
    }
    c.check("VerifyFanoutMain prints [OK]") {
      calls.find(_.main == "VerifyFanoutMain").flatMap { v =>
        if (v.error.isEmpty && v.stdout.contains("[OK] fan-out verified")) None
        else Some(v.error.getOrElse(v.stdout.linesIterator.toSeq.lastOption.getOrElse("")))
      }
    }
    e.agg.foreach { agg =>
      val dir = out.resolve("agg")
      Gen.Configs.foreach { k =>
        c.check(s"AggregateMain $k writes one file per expected store") {
          val got = children(dir).filter(d => Files.exists(d.resolve(s"$k.csv")))
            .map(_.getFileName.toString).toSet
          val want = agg.stores(k)
          if (got == want) None
          else Some(s"missing ${(want -- got).toSeq.sorted.take(5)} extra ${(got -- want).toSeq.sorted.take(5)}")
        }
      }
      c.check("PresenceMain matches the generator") {
        val p = calls.find(_.main == "PresenceMain").get
        val rows = "rows=(\\d+)".r.findAllMatchIn(p.stdout).map(_.group(1).toLong).toSeq
        val marks = p.stdout.linesIterator.filter(_.startsWith("[")).map(_.take(6)).toSeq
        val wantMarks = agg.probeRows.map(n => if (n > 0) "[OK ] " else "[NONE]")
        if (p.error.isEmpty && rows == agg.probeRows && marks == wantMarks) None
        else Some(s"expected ${agg.probeRows} got $rows ${p.error.getOrElse("")}")
      }
    }
  }

  // ---- per-pass figures ----------------------------------------------

  /** One pass of the workload's chain and its figures, output-checked
    * unless it is the warm-up. The warm-up runs the whole chain too: with
    * each main warmed only once, the timed pass still compiled the other
    * calls' code, used about 30% more CPU, and its CPU time varied four
    * times as much across seeds.
    */
  def runPass(w: Workload, in: Path, out: Path, tmp: Path, e: Expect, traced: Boolean,
      c: Checker, warmUp: Boolean = false): Map[String, Double] = {
    Seq(out, tmp).foreach { d => wipe(d); Files.createDirectories(d) }
    Trace.clear()
    heapPools.foreach(_.resetPeakUsage())
    val (cpu0, jit0, gc0, steal0, t0) = (cpuS, jitCpuS, gcS, stealS, System.nanoTime())
    val calls = Trace.span("pass") {
      w.steps(in, out, e).map { case (n, m, a) => call(n, m, a) }
    }
    val runS = secs(t0)
    val f = mutable.LinkedHashMap[String, Double](
      "run_s" -> runS,
      "cpu_s" -> (cpuS - cpu0),
      "jvm.jit_cpu_s" -> (jitCpuS - jit0),
      "steal_s" -> (stealS - steal0))
    Mains.foreach { m =>
      f(s"${m}_s") = calls.filter(_.main == m).map(_.wallS).sum
    }
    c.checks += calls.length
    calls.filter(_.error.nonEmpty).foreach(k => c.failures += s"${k.main} failed: ${k.error.get}")
    if (!warmUp) checkPass(e, out, calls, c)
    // leftovers and outputs, read before the next pass wipes them
    val outFiles = walk(out).filter(Files.isRegularFile(_))
    f("sources.output_files") = outFiles.length.toDouble
    f("sources.output_mb") = outFiles.map(Files.size).sum / 1e6
    f("sources.staging_dirs_left") = walk(out)
      .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("_staging_")).toDouble
    f("tmp.graft_dirs_left") =
      children(tmp).count(_.getFileName.toString.startsWith("graft_")).toDouble
    if (traced) {
      f("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      f("jvm.gc_s") = gcS - gc0
      f ++= layerFigures()
    }
    f.toMap
  }

  /** Waits until the JIT compiler threads have been idle (under 25 ms of
    * CPU in half a second) or `maxS` have passed, so the timed passes do
    * not start behind a warm-up's compile backlog. Returns the wait.
    */
  def settleJit(maxS: Double): Double = {
    val t0 = System.nanoTime()
    var last = jitCpuS
    var quiet = false
    while (!quiet && secs(t0) < maxS) {
      Thread.sleep(500)
      val now = jitCpuS
      quiet = now - last < 0.025
      last = now
    }
    secs(t0)
  }

  /** The `cli` and `engine` layers, from the spans and the listener. */
  def layerFigures(): Map[String, Double] = Trace.synchronized {
    val f = mutable.LinkedHashMap.empty[String, Double]
    Mains.foreach { m =>
      val ids = Trace.spans.filter(_.name == m).map(_.id).toSet
      val js = Trace.jobs.filter(j => ids(j.span)).toSeq
      val ts = Trace.tasks.filter(t => ids(t.span)).toSeq
      val wall = Trace.spans.filter(s => ids(s.id)).map(s => (s.endNs - s.startNs) / 1e9).sum
      f(s"cli.$m.wall_s") = wall
      f(s"cli.$m.driver_s") = math.max(0.0, wall - unionMs(js.map(j => (j.startMs, j.endMs))) / 1e3)
      f(s"cli.$m.jobs") = js.length.toDouble
      f(s"cli.$m.tasks") = ts.length.toDouble
      f(s"cli.$m.executor_cpu_s") = ts.map(_.cpuNs).sum / 1e9
      f(s"cli.$m.shuffle_write_mb") = ts.map(_.shuffleWriteB).sum / 1e6
      f(s"cli.$m.spill_mb") = ts.map(_.spillB).sum / 1e6
    }
    val ts = Trace.tasks.toSeq
    f("engine.jobs") = Trace.jobs.length.toDouble
    f("engine.stages") = Trace.stages.toDouble
    f("engine.tasks") = ts.length.toDouble
    f("engine.failed_tasks") = ts.count(!_.ok).toDouble
    val jobMs = Trace.jobs.map(j => (j.endMs - j.startMs).toDouble).toSeq
    f("engine.job_ms.p50") = pct(jobMs, 50)
    f("engine.job_ms.p90") = pct(jobMs, 90)
    f("engine.task_ms.p50") = pct(ts.map(_.ms.toDouble), 50)
    f("engine.task_ms.p99") = pct(ts.map(_.ms.toDouble), 99)
    f("engine.task_wait_s") = ts.map(_.waitMs).sum / 1e3
    f("engine.executor_run_s") = ts.map(_.runMs).sum / 1e3
    f("engine.executor_cpu_s") = ts.map(_.cpuNs).sum / 1e9
    f("engine.shuffle_read_mb") = ts.map(_.shuffleReadB).sum / 1e6
    f("engine.shuffle_write_mb") = ts.map(_.shuffleWriteB).sum / 1e6
    f("engine.spill_mb") = ts.map(_.spillB).sum / 1e6
    f("engine.task_gc_s") = ts.map(_.gcMs).sum / 1e3
    f.toMap
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }

  // ---- main ----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val (in, out, tmp) = (work.resolve("in"), work.resolve("out"), Paths.get(sys.props("java.io.tmpdir")))
    val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val threads = Runtime.getRuntime.availableProcessors()
    val senPre = graft.HostSentinel.measure(threads)

    // set-up: generation three times (median kept), then one warm-up pass
    var expect: Expect = null
    val genS = (1 to 3).map { _ =>
      wipe(in)
      val t0 = System.nanoTime()
      expect = w.generate(in, seed)
      secs(t0)
    }
    val c = new Checker
    val warm = runPass(w, in, out, tmp, expect, traced, c, warmUp = true)
    val settleS = settleJit(5.0)
    val setupS = bootS + median(genS) + warm("run_s") + settleS

    val nPasses = math.max(1, math.round(seconds / w.passS).toInt)
    val t0 = System.nanoTime()
    val passes = (1 to nPasses).map(_ => runPass(w, in, out, tmp, expect, traced, c))
    val measuredS = secs(t0)
    val senPost = graft.HostSentinel.measure(threads)

    val med = passes.head.keys.map(k => k -> median(passes.map(_(k)).toSeq)).toMap
    val metrics = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS)
    metrics ++= Seq("run_s" -> med("run_s"), "cpu_s" -> med("cpu_s"),
      "steal_s" -> med("steal_s"),
      "fanout_s" -> med("FanOutMain_s"), "verify_s" -> med("VerifyFanoutMain_s"),
      "aggregate_s" -> med("AggregateMain_s"))
    if (traced) {
      metrics ++= med.filter { case (k, _) => k.contains('.') }
      metrics("bench.traced_run_s") = med("run_s")
    }
    val inStamp = Gen.stamp(in.resolve("fanout"), in.resolve("aggregate"))
    val outFiles = med("sources.output_files")

    val j = new Json
    j.obj {
      j.field("workload", w.name); j.field("seed", seed); j.field("trace", traced)
      j.field("correct", c.failures.isEmpty)
      j.field("attempted", c.checks); j.field("failed", c.failures.length)
      j.field("failures", c.failures.take(20).toSeq)
      j.field("metrics", metrics.toSeq)
      j.key("setup"); j.obj {
        j.field("jvm_boot_s", bootS); j.field("generate_s", genS)
        j.field("warmup_pass_s", warm("run_s"))
        j.field("jit_settle_s", settleS); j.field("setup_s", setupS)
      }
      j.field("passes", passes.length); j.field("measured_s", measuredS)
      j.key("per_pass"); j.arr(passes.toSeq) { p => j.value(p.toSeq.sortBy(_._1)) }
      j.key("input_stamp"); j.obj {
        j.field("files", inStamp.files); j.field("rows", inStamp.rows)
        j.field("mb", inStamp.bytes / 1e6)
        j.field("files_out", outFiles); j.field("mb_out", med("sources.output_mb"))
      }
      j.key("host_sentinel"); j.obj {
        j.field("threads", threads)
        j.field("pre_st_ms", senPre.stMs); j.field("pre_mt_ms", senPre.mtMs)
        j.field("post_st_ms", senPost.stMs); j.field("post_mt_ms", senPost.mtMs)
      }
      j.key("program_counters"); j.obj {
        j.field("artifact_build_s", graft.etl.Artifacts.buildSeconds.toSeq.sortBy(_._1))
        j.field("iter_stats", graft.etl.IterStats.drain().toSeq.sortBy(_._1).map { case (k, v) => k -> v.toDouble })
      }
      if (traced) {
        j.key("spans"); j.arr(Trace.spans.toSeq) { s =>
          j.obj {
            j.field("id", s.id); j.field("parent", s.parent); j.field("name", s.name)
            j.field("start_ns", s.startNs); j.field("end_ns", s.endNs)
          }
        }
      }
    }
    Files.write(Paths.get(a("out")), j.result.getBytes(UTF_8))
    sys.exit(0)
  }
}

/** Minimal JSON writer for the artifact (numbers, strings, nesting). */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
      case ch => sb.append(ch)
    }
    sb.append('"')
  }
  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def obj(body: => Unit): Unit = { if (!first) sep(); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr[T](xs: Seq[T])(f: T => Unit): Unit = {
    if (!first) sep(); sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false
  }
  def value(v: Any): Unit = v match {
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.foreach { case (k: String, x) => key(k); value(x) })
    case xs: Seq[_] => arr(xs)(value)
    case s: String => sep(); str(s)
    case d: Double => sep(); sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case b: Boolean => sep(); sb.append(b)
    case n: Int => sep(); sb.append(n)
    case n: Long => sep(); sb.append(n)
    case other => sep(); str(String.valueOf(other))
  }
  def field(k: String, v: Any): Unit = { key(k); value(v) }
  def result: String = sb.result()
}
