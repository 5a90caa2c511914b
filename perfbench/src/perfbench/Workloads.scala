package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Linker
import graft.model.BlockingRule
import graft.clustering.{ClusteringOps, ConnectedComponents}
import graft.operators.Materialise
import graft.operators.Materialise.Ops

/** Order-insensitive result hash over rows: XOR of Spark's xxhash64. */
object ResultHash {
  def of(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Release a workload's result frames through the library's own API and
  * record the block-manager memory and disk still held afterwards. */
object Release {
  def apply(spark: SparkSession, t: Tracer)(frames: DataFrame*)(more: => Unit): Unit =
    t.span("operators.materialise") {
      frames.foreach(Materialise.releaseConsumed)
      more
      if (t.enabled) t.put("cached_mb_after", spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6)
    }
}

/** Batch dedupe of a person table — train, block, predict, cluster —
  * followed by a few incremental `findMatchesToNewRecords` calls against
  * the trained model (tiny inputs, where per-call fixed cost dominates). */
final class DedupePerson(spark: SparkSession, a: Main.Args) extends Workload {
  private var path = ""
  private var probePath = ""
  private var entityOf: Map[Long, Long] = Map.empty
  private var truePairs = 0.0
  // planted probe uid -> person uid it was copied from; probe uids per batch
  private var sourceOf: Map[Long, Long] = Map.empty
  private var probeIds: Map[Int, Seq[Long]] = Map.empty
  val threshold = 0.5
  val clusterThreshold = 0.9
  val f1Floor = 0.9
  // wall time of every probe call, for the report
  private val probeMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def report: Seq[(String, Double, String)] = Seq(
    ("probe_p50_ms", Main.quantile(probeMs.toSeq, 0.5), "ms"),
    ("probe_p90_ms", Main.quantile(probeMs.toSeq, 0.9), "ms"),
    ("probe_calls", probeMs.size.toDouble, "count"))

  def prepare(rep: Int): Unit = {
    val rows = Gen.persons(a.seed, a.scaled(Sizes.personEntities))
    val (probes, sources) = Gen.probeBatches(a.seed, rows.toIndexedSeq,
      Sizes.probeBatches, Sizes.probePlanted, Sizes.probeFresh)
    path = s"${a.workDir}/input/persons-$rep"
    probePath = s"${a.workDir}/input/probe-$rep"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, a.cores),
      Gen.personSchema).write.parquet(path)
    spark.createDataFrame(spark.sparkContext.parallelize(probes, 1),
      Gen.probeSchema).write.partitionBy("batch").parquet(probePath)
    entityOf = rows.map(r => r.getLong(0) -> r.getLong(6)).toMap
    truePairs = entityOf.values.groupBy(identity).values
      .map(v => v.size.toDouble * (v.size - 1) / 2).sum
    sourceOf = sources
    probeIds = probes.groupBy(_.getInt(7)).map { case (k, v) => k -> v.map(_.getLong(0)) }
  }

  def op(t: Tracer): OpResult = {
    val linker = new Linker(spark.read.parquet(path), Main.personSettings)
    val records = t.span("operators.concat_tf") {
      val n = linker.concatWithTf.count()
      t.put("rows_out", n.toDouble)
      n
    }
    t.span("training.estimate_u") {
      linker.training.estimateU(maxPairs = Sizes.uPairs)
      t.put("rows_out", trainedLevels(linker, _.trainedU))
    }
    t.span("training.em") {
      val its = Seq("surname", "dob").map { c =>
        linker.training.estimateParametersUsingExpectationMaximisation(
          BlockingRule.blockOn(c)).iterations
      }.sum
      t.put("iterations", its.toDouble)
      t.put("rows_out", trainedLevels(linker, _.trainedM))
    }
    val pairs = t.span("operators.blocking") {
      val n = linker.computeBlockedPairsForPredict().count()
      t.put("rows_out", n.toDouble)
      t.put("pairs_per_record", n.toDouble / records)
      n
    }
    // The threshold is applied after the eager lineage break: a thresholded
    // predict under breakLineage(eager = true) stalls in Catalyst
    // constraint inference for minutes (perfbench/baseline.json), longer
    // than one benchmark run may take.
    val preds = t.span("operators.predict") {
      val p = linker.predict().breakLineage(eager = true)
        .filter(col("match_probability") >= threshold)
      val kept = p.count()
      t.put("rows_out", kept.toDouble)
      t.put("scored_pairs", pairs.toDouble)
      t.put("kept_per_scored", kept.toDouble / pairs)
      p
    }
    val clusters = t.span("clustering.cc") {
      val rows = linker.clusterPairwisePredictionsAtThreshold(preds,
        clusterThreshold).select("unique_id", "cluster_id").collect()
      t.put("rows_out", rows.length.toDouble)
      rows
    }
    val (nPred, predHash) = ResultHash.of(
      preds.select(col("unique_id_l"), col("unique_id_r"),
        round(col("match_probability"), 6).as("p")),
      "unique_id_l", "unique_id_r", "p")
    val probes = (0 until Sizes.probeBatches).map(probe(linker, t, _))
    Release(spark, t)(preds)(linker.invalidateCache())

    // checks: every record clustered once, pairwise F1 of the clusters
    // against the planted entities above a floor, planted probe matches
    // found
    val failures = Seq.newBuilder[String]
    if (clusters.length != entityOf.size)
      failures += s"clustered ${clusters.length} records of ${entityOf.size}"
    val clusterHash = clusters.foldLeft(0L)((h, r) =>
      h ^ Main.xx(r.getLong(0), r.getLong(1)))
    val byCluster = clusters.groupBy(_.getLong(1)).values
    val predicted = byCluster.map(c => c.length.toDouble * (c.length - 1) / 2).sum
    val tp = byCluster.map(_.groupBy(r => entityOf.getOrElse(r.getLong(0), -1L))
      .values.map(v => v.length.toDouble * (v.length - 1) / 2).sum).sum
    val f1 = Main.f1(tp, predicted, truePairs)
    if (!(f1 >= f1Floor)) failures += f"pair_f1 $f1%.4f below floor $f1Floor"
    if (nPred == 0) failures += "predict returned no pairs"
    val pipelineFailures = failures.result()
    val hash = probes.foldLeft(clusterHash * 31 + predHash)(_ * 31 + _._1)
    OpResult(hash, f1, 1 + probes.size,
      (if (pipelineFailures.isEmpty) Nil else Seq(pipelineFailures.mkString("; "))) ++
        probes.flatMap(_._2))
  }

  /** One probe call: batch `b` against the trained model. Every planted
    * copy must be matched to the record it was copied from (the copy keeps
    * that record's surname and date of birth, so blocking reaches it).
    * Returns the call's result hash and its failure, if any. */
  private def probe(linker: Linker, t: Tracer, b: Int): (Long, Option[String]) = {
    val t0 = System.nanoTime()
    val found = t.span("linker.find_matches") {
      val batch = spark.read.parquet(s"$probePath/batch=$b")
      val rows = linker.findMatchesToNewRecords(batch, Some(threshold))
        .select("unique_id_l", "unique_id_r", "match_probability").collect()
      t.put("rows_out", rows.length.toDouble)
      rows
    }
    probeMs += (System.nanoTime() - t0) / 1e6
    val pairs = found.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = probeIds(b).filter(sourceOf.contains)
      .filterNot(u => pairs.contains((sourceOf(u), u)))
    val hash = found.foldLeft(0L)((h, r) => h ^ Main.xx(r.getLong(0),
      r.getLong(1) * 1000003L + math.round(r.getDouble(2) * 1e6)))
    (hash, if (missed.isEmpty) None
      else Some(s"probe batch $b: planted matches not found for ${missed.take(5)}"))
  }

  private def trainedLevels(linker: Linker,
      f: graft.model.ComparisonLevel => Seq[_]): Double =
    linker.settings.comparisons.flatMap(_.levels).count(f(_).nonEmpty).toDouble
}

/** Clustering of a planted scored-edge graph, sized above the driver
  * union-find gate of the benchmark's heap so the distributed loops run. */
final class ClusterGraph(spark: SparkSession, a: Main.Args) extends Workload {
  private var edgesPath = ""
  private var nodesPath = ""
  val threshold = 0.9
  val thresholds = Seq(0.9, 0.96, 0.99)
  // (rows, xor hash) of the expected labellings: CC over every node, the
  // multi-threshold solve per threshold over linked nodes
  private var expectedCc: (Long, Long) = (0L, 0L)
  private var expectedMulti: Map[Double, (Long, Long)] = Map.empty
  private var graph: Gen.Graph = _

  def prepare(rep: Int): Unit = {
    import spark.implicits._
    graph = Gen.graph(a.seed, a.scaled(Sizes.graphClusters))
    edgesPath = s"${a.workDir}/input/edges-$rep"
    nodesPath = s"${a.workDir}/input/nodes-$rep"
    // duplicate pairs (a chord on a structural edge) keep their highest
    // probability, so each undirected pair appears once, as predict emits
    Gen.edges(spark, graph, 2 * a.cores)
      .groupBy("unique_id_l", "unique_id_r")
      .agg(max("match_probability").as("match_probability"))
      .write.parquet(edgesPath)
    val seed = a.seed
    spark.range(graph.nodes).map(i => Gen.nodeId(seed, i)).toDF("unique_id")
      .write.parquet(nodesPath)
    if (rep == 0) {
      expectedCc = UnionFind.labels(graph, threshold, linkedOnly = false)
      expectedMulti = thresholds
        .map(t => t -> UnionFind.labels(graph, t, linkedOnly = true)).toMap
    }
  }

  def op(t: Tracer): OpResult = {
    val edges = spark.read.parquet(edgesPath)
    val nodes = spark.read.parquet(nodesPath)
    val failures = Seq.newBuilder[String]
    val (cc, ccRows, ccHash) = t.span("clustering.cc") {
      val c = ConnectedComponents.clusterAtThreshold(nodes, edges, "unique_id",
        threshold).breakLineage(eager = true)
      val (n, h) = ResultHash.of(c, "unique_id", "cluster_id")
      t.put("rows_out", n.toDouble)
      (c, n, h)
    }
    if ((ccRows, ccHash) != expectedCc)
      failures += s"CC labels differ from union-find at $threshold: " +
        s"($ccRows, $ccHash) vs $expectedCc"
    val multi = t.span("clustering.multi_threshold") {
      val rows = ClusteringOps.atMultipleThresholds(edges, thresholds)
        .groupBy("threshold")
        .agg(count(lit(1)), bit_xor(xxhash64(col("node_id"), col("cluster_id"))))
        .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      t.put("rows_out", rows.values.map(_._1).sum.toDouble)
      rows
    }
    thresholds.foreach { th =>
      if (!multi.get(th).contains(expectedMulti(th)))
        failures += s"multi-threshold labels differ from union-find at $th: " +
          s"${multi.get(th)} vs ${expectedMulti(th)}"
    }
    val (gmRows, gmHash) = t.span("clustering.graph_metrics") {
      val gm = ClusteringOps.graphMetrics(
        cc.select(col("unique_id").as("node_id"), col("cluster_id")),
        edges.filter(col("match_probability") >= threshold))
      val r = ResultHash.of(gm.stacked.select(col("cluster_id"), col("grain"),
        col("id_a"), coalesce(col("id_b"), lit(-1L)).as("id_b"),
        col("verdict").cast("int").as("verdict")),
        "cluster_id", "grain", "id_a", "id_b", "verdict")
      t.put("rows_out", r._1.toDouble)
      r
    }
    if (gmRows == 0) failures += "graph metrics returned no rows"
    Release(spark, t)(cc)(())
    val fs = failures.result()
    OpResult(ccHash * 31 + gmHash, if (fs.isEmpty) 1.0 else 0.0, 1,
      if (fs.isEmpty) Nil else Seq(fs.mkString("; ")))
  }
}

/** The benchmark's own union-find over the generated edges: expected
  * component labels (minimum node id) at a threshold, as (rows, hash) —
  * over every node, or with `linkedOnly` over the nodes incident to an
  * edge at or above the threshold. */
object UnionFind {
  def labels(g: Gen.Graph, threshold: Double,
      linkedOnly: Boolean): (Long, Long) = {
    val n = g.nodes.toInt
    val parent = Array.tabulate(n)(identity)
    val linked = new java.util.BitSet(n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (c <- 0 until g.clusters; (s, d, p) <- Gen.clusterEdges(g, c)
         if p >= threshold) {
      linked.set(s.toInt); linked.set(d.toInt)
      val (rs, rd) = (find(s.toInt), find(d.toInt))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    val minId = new java.util.HashMap[Int, Long]()
    for (x <- 0 until n) {
      val id = Gen.nodeId(g.seed, x)
      minId.merge(find(x), id, (a: Long, b: Long) => math.min(a, b))
    }
    var h = 0L
    var rows = 0L
    for (x <- 0 until n if !linkedOnly || linked.get(x)) {
      h ^= Main.xx(Gen.nodeId(g.seed, x), minId.get(find(x)))
      rows += 1
    }
    (rows, h)
  }
}

