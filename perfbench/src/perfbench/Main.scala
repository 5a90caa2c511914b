package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.operators.Materialise

/** What one timed operation reports back to the loop: a result hash, a
  * quality figure, and its checked sub-operations (`attempted`) with one
  * message per failed one. */
final case class OpResult(hash: Long, quality: Double, attempted: Int,
    failures: Seq[String])

/** A workload: inputs written in `prepare` (repeated to time set-up), then
  * one operation per loop iteration through the library's public API. */
trait Workload {
  def prepare(rep: Int): Unit
  def op(t: Tracer): OpResult
  /** Workload-specific figures for the human-readable report. */
  def report: Seq[(String, Double, String)] = Nil
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: String, hashDir: String, traceOut: String,
      cores: Int, scale: Double) {
    def scaled(n: Int): Int = math.max(50, (n * scale).toInt)
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work-dir"), need("--hash-dir"),
      m.getOrElse("--trace-out", ""),
      m.get("--cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("--scale").map(_.toDouble).getOrElse(1.0))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  // Spark's xxhash64(a, b) over two longs (seed 42, chained) on the driver
  def xx(a: Long, b: Long): Long = XXH64.hashLong(b, XXH64.hashLong(a, 42L))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    Jvm.install()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .config(Materialise.ScratchDirKey, s"${a.workDir}/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val totals = new Totals
    sc.addSparkListener(totals)
    val sessionS = since(t0)

    def workload(name: String): Workload = name match {
      case "dedupe_person" => new DedupePerson(spark, a)
      case "cluster_graph" => new ClusterGraph(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    if (a.workload == "class-archive") {
      // build step: one small traced operation of every workload, so the
      // JVM's class-data archive written at exit holds the classes runs load
      Seq("dedupe_person", "cluster_graph").foreach { n =>
        val w = workload(n)
        w.prepare(0)
        w.op(new Tracer(sc, n, enabled = true))
      }
      spark.stop()
      return
    }
    val w = workload(a.workload)

    // set-up: the inputs are generated and written three times and the
    // median counts. There is no warm-up operation: a batch linkage job
    // runs once per JVM, so its users pay JIT compilation and code
    // generation on every run, and the timed operation pays them too.
    val prep = (0 until 3).map { rep =>
      val p0 = System.nanoTime(); w.prepare(rep); since(p0)
    }
    val setupS = sessionS + median(prep)

    // timed loop: closed, one client, whole operations until `seconds`
    // have passed (a batch operation outlasts the window: one per run)
    val tracer = new Tracer(sc, s"${a.workload}-${a.seed}", a.trace)
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val shuffles = mutable.ArrayBuffer.empty[Double]
    val quality = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val hashes = mutable.Set.empty[Long]
    Jvm.quiesce()
    val loop0 = System.nanoTime()
    while (attempted == 0 || since(loop0) < a.seconds) {
      ListenerDrain(sc)
      val sh0 = totals.c.shuffleWrite.get
      val c0 = Jvm.cpuNs
      val o0 = System.nanoTime()
      val r = try tracer.span(s"op.${a.workload}")(w.op(tracer)) catch {
        case e: Exception =>
          OpResult(0L, Double.NaN, 1, Seq(s"operation threw $e"))
      }
      val wall = since(o0)
      val cpu = (Jvm.cpuNs - c0) / 1e9
      ListenerDrain(sc)
      attempted += r.attempted
      failed += r.failures.size
      failures ++= r.failures
      if (r.failures.isEmpty) {
        hashes += r.hash
        walls += wall
        cpus += cpu
        shuffles += (totals.c.shuffleWrite.get - sh0) / 1e6
        quality += r.quality
      }
    }
    val peakHeapMb = Jvm.peakAfterGc(loop0, System.nanoTime()) / 1e6

    // result determinism: every operation of this run, and every earlier
    // run of this seed with the same build, must hash the same
    if (hashes.size > 1) {
      failed += 1
      failures += s"result hash differs between operations: $hashes"
    }
    val hashFile = new java.io.File(s"${a.hashDir}/${a.workload}-${a.seed}")
    if (failed == 0 && hashes.size == 1) {
      val h = java.lang.Long.toHexString(hashes.head)
      if (!hashFile.exists()) {
        hashFile.getParentFile.mkdirs()
        java.nio.file.Files.writeString(hashFile.toPath, h)
      } else {
        val earlier = java.nio.file.Files.readString(hashFile.toPath).trim
        if (earlier != h) {
          failed += 1
          failures += s"result hash $h differs from an earlier run of this seed ($earlier)"
        }
      }
    }

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", median(walls.toSeq), "s"),
      ("cpu_s", median(cpus.toSeq), "s"),
      ("shuffle_mb", median(shuffles.toSeq), "MB"),
      ("peak_heap_mb", peakHeapMb, "MB"),
      ("pair_f1", median(quality.toSeq), "ratio"))

    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} " +
      f"trace=${a.trace} ops=${walls.size} attempted=$attempted failed=$failed " +
      f"session=$sessionS%.2fs prepare=${prep.map(x => f"$x%.2f").mkString("/")}s")
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))

    // human-readable report: every end-to-end figure with its unit
    println(s"workload ${a.workload} seed ${a.seed}: ${walls.size} timed " +
      s"operations (closed loop, one client); $attempted checked operations " +
      s"attempted, $failed failed")
    (e2e ++ w.report :+
      (("error_rate", failed.toDouble / math.max(attempted, 1), "ratio")))
      .foreach { case (k, v, u) => println(f"  $k%-14s ${Json.num(v)} $u") }

    val metrics =
      if (!a.trace) e2e
      else PerLayer.metrics(tracer.spans.toSeq, walls.toSeq)
    if (a.trace && a.traceOut.nonEmpty) tracer.writeJsonLines(a.traceOut)

    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** The canonical five-comparison model (first name and city carry
    * term-frequency adjustments), blocked on surname or date of birth. */
  def personSettings: LinkSettings = {
    def simple(c: String) = Comparison(c, Seq(
      ll.nullLevel(c),
      ll.exactMatch(c).withM(0.9).withU(0.1),
      ll.elseLevel.withM(0.1).withU(0.9)))
    LinkSettings(
      linkType = LinkType.DedupeOnly,
      blockingRules = Seq(BlockingRule.blockOn("surname"),
        BlockingRule.blockOn("dob")),
      probabilityTwoRandomRecordsMatch = 1e-4,
      comparisons = Seq(
        Comparison("first_name", Seq(
          ll.nullLevel("first_name"),
          ll.exactMatch("first_name", tfAdjustment = true)
            .withM(0.7).withU(0.1).copy(tfAdjustmentWeight = 0.6),
          ll.levenshtein("first_name", 2).withM(0.2).withU(0.1),
          ll.elseLevel.withM(0.1).withU(0.8))),
        simple("surname"), simple("dob"), simple("email"),
        Comparison("city", Seq(
          ll.nullLevel("city"),
          ll.exactMatch("city", tfAdjustment = true).withM(0.9).withU(0.1),
          ll.elseLevel.withM(0.1).withU(0.9)))))
  }

  /** Pairwise F1 from counts of true-positive, predicted and true pairs. */
  def f1(tp: Double, predicted: Double, truth: Double): Double =
    if (tp == 0) 0.0 else 2 * tp / (predicted + truth)
}

/** Input sizes, fixed for every seed. Chosen so one run fits the
  * benchmark's time budget on a 4-core machine. */
object Sizes {
  val personEntities = 10000
  val uPairs = 200000L
  val probeBatches = 5
  val probePlanted = 50
  val probeFresh = 50
  // above the CC driver gate at the fixed heap (run.py) for every seed
  val graphClusters = 30000
}
