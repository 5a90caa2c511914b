package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator takes the seed as an argument
  * and the same seed always yields the same rows; the program under test
  * only ever sees the parquet files written from them. */
object Gen {

  // ---------------------------------------------------------------- persons

  /** Distinct, pronounceable vocabulary of `n` words: three syllables
    * picked by the base-26 digits of a bijective scramble of the index, so
    * no two indices share a word. */
  private val syllables = Array("an", "bel", "cor", "dan", "el", "fa", "gor",
    "han", "is", "jo", "ka", "lin", "mar", "nor", "ol", "pet", "qui", "ros",
    "sam", "tor", "ul", "vin", "wes", "xa", "yor", "zen")
  def vocab(n: Int, salt: Int): Array[String] = {
    require(n <= 17576)
    Array.tabulate(n) { i =>
      var x = ((i.toLong * 7919 + salt) % 17576).toInt
      val sb = new StringBuilder
      for (_ <- 0 until 3) { sb ++= syllables(x % 26); x /= 26 }
      sb.setCharAt(0, sb.charAt(0).toUpper)
      sb.toString
    }
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // surname top share ~0.9% of records (Zipf 0.5 over 3000), heavier city
  // and first-name skews drive the term-frequency adjustments
  val firstNames: Array[String] = vocab(1000, 11)
  val surnames: Array[String] = vocab(3000, 5003)
  val cities: Array[String] = vocab(200, 12007)
  private val firstZipf = new Zipf(firstNames.length, 0.7)
  private val surZipf = new Zipf(surnames.length, 0.5)
  private val cityZipf = new Zipf(cities.length, 1.0)
  private val domains = Array("mail.test", "post.test", "inbox.test",
    "web.test", "net.test")
  // records per entity: 1..5
  private val sizeCdf = Array(0.45, 0.70, 0.85, 0.95, 1.0)

  final case class Entity(first: String, sur: String, dob: String,
      city: String, email: String)

  def entity(r: java.util.Random): Entity = {
    val f = firstNames(firstZipf.draw(r))
    val s = surnames(surZipf.draw(r))
    val dob = java.time.LocalDate.of(1940, 1, 1)
      .plusDays(r.nextInt(60 * 365)).toString
    Entity(f, s, dob, cities(cityZipf.draw(r)),
      s"${f.toLowerCase}.${s.toLowerCase}${r.nextInt(100)}@" +
        domains(r.nextInt(domains.length)))
  }

  /** One character edit: substitute, delete, insert or transpose. */
  def typo(s: String, r: java.util.Random): String = {
    if (s.length < 3) return s + "a"
    val i = 1 + r.nextInt(s.length - 2)
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(4) match {
      case 0 => s.substring(0, i) + c + s.substring(i + 1)
      case 1 => s.substring(0, i) + s.substring(i + 1)
      case 2 => s.substring(0, i) + c + s.substring(i)
      case _ => s.substring(0, i - 1) + s.charAt(i) + s.charAt(i - 1) +
        s.substring(i + 1)
    }
  }

  /** A noisy record of entity `e`: typos, nulls, moves, changed emails. */
  def noisy(e: Entity, r: java.util.Random): (String, String, String, String, String) = {
    def p(x: Double) = r.nextDouble() < x
    val first = if (p(0.05)) null else if (p(0.2)) typo(e.first, r) else e.first
    val sur = if (p(0.15)) typo(e.sur, r) else e.sur
    val dob = if (p(0.05)) {
      val d = e.dob.toCharArray; d(9) = ('0' + r.nextInt(10)).toChar; new String(d)
    } else e.dob
    val city = if (p(0.1)) cities(cityZipf.draw(r)) else e.city
    val email = if (p(0.1)) null
      else if (p(0.2)) e.email.replaceFirst("\\d*@", s"${r.nextInt(100)}@")
      else e.email
    (first, sur, dob, city, email)
  }

  val personSchema: StructType = StructType(Seq(
    StructField("unique_id", LongType, nullable = false),
    StructField("first_name", StringType), StructField("surname", StringType),
    StructField("dob", StringType), StructField("city", StringType),
    StructField("email", StringType),
    StructField("cluster", LongType, nullable = false)))

  /** `entities` planted entities with 1-5 records each; the first record
    * of an entity is clean, the rest noisy. Unique ids are a seeded
    * shuffle, so an entity's records are not adjacent. */
  def persons(seed: Long, entities: Int): Seq[Row] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val recs = scala.collection.mutable.ArrayBuffer.empty[(Long, Entity, Int)]
    for (id <- 0 until entities) {
      val e = entity(r)
      val u = r.nextDouble()
      val k = 1 + sizeCdf.indexWhere(u < _)
      for (j <- 0 until k) recs += ((id.toLong, e, j))
    }
    val order = scala.util.Random.javaRandomToRandom(r).shuffle(recs.indices.toVector)
    order.zipWithIndex.map { case (src, uid) =>
      val (cid, e, j) = recs(src)
      val (f, s, d, c, m) =
        if (j == 0) (e.first, e.sur, e.dob, e.city, e.email) else noisy(e, r)
      Row(uid.toLong, f, s, d, c, m, cid)
    }
  }

  /** Probe batches against a corpus: each batch holds `planted` copies of
    * corpus records (surname and dob kept, so the model's blocking reaches
    * them; first name, city and email perturbed) and `fresh` records of
    * entities absent from the corpus. `cluster` carries the corpus entity
    * of a planted copy and -1 for fresh records. */
  private val ProbeUidBase = 10000000L

  /** Returns the probe rows and, for each planted copy, the corpus uid it
    * was copied from. */
  def probeBatches(seed: Long, corpus: IndexedSeq[Row], batches: Int,
      planted: Int, fresh: Int): (Seq[Row], Map[Long, Long]) = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 2)
    var uid = ProbeUidBase
    val sources = Map.newBuilder[Long, Long]
    val rows = for (b <- 0 until batches; i <- 0 until planted + fresh) yield {
      uid += 1
      if (i < planted) {
        val src = corpus(r.nextInt(corpus.length))
        val first = if (src.isNullAt(1)) null
          else if (r.nextDouble() < 0.3) typo(src.getString(1), r)
          else src.getString(1)
        val city = if (r.nextDouble() < 0.2) cities(cityZipf.draw(r))
          else src.getString(4)
        val email = if (r.nextDouble() < 0.3) null else src.getString(5)
        sources += uid -> src.getLong(0)
        Row(uid, first, src.getString(2), src.getString(3), city, email,
          src.getLong(6), b)
      } else {
        val e = entity(r)
        Row(uid, e.first, e.sur, e.dob, e.city, e.email, -1L, b)
      }
    }
    (rows, sources.result())
  }

  val probeSchema: StructType =
    personSchema.add(StructField("batch", IntegerType, nullable = false))

  // ---------------------------------------------------------- scored edges

  /** Planted-cluster layout for the scored-edge graph. Cluster `c` owns
    * dense node indices [offsets(c), offsets(c) + sizes(c)); its shape is
    * a chain, a star or (small clusters only) a clique; every structural
    * edge of the cluster carries the cluster's `level` probability, so a
    * threshold above it splits the cluster apart. Chords join random
    * member pairs with uniform random probabilities. */
  final case class Graph(seed: Long, sizes: Array[Int], offsets: Array[Long]) {
    def clusters: Int = sizes.length
    def nodes: Long = offsets.last
  }

  // structural edge probabilities: most clusters are confident, some sit
  // between the benchmark's thresholds so multi-threshold solves split them
  val levels = Array(0.999, 0.995, 0.97, 0.93, 0.85)

  def mix(x0: Long): Long = { // splitmix64 finaliser
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53)

  /** Heavy-tailed cluster sizes (Pareto, 2..5000). */
  def graph(seed: Long, clusters: Int): Graph = {
    val sizes = Array.tabulate(clusters) { c =>
      val u = unit(mix(seed * 31 + c))
      math.min(5000, (2 / math.pow(1 - u, 1 / 1.3)).toInt).max(2)
    }
    val offsets = sizes.scanLeft(0L)(_ + _)
    Graph(seed, sizes, offsets)
  }

  /** Node id of dense index `i`: a seeded 62-bit scramble, so ids are not
    * ordered along chains. */
  def nodeId(seed: Long, i: Long): Long = mix(i ^ (seed << 32)) >>> 2

  /** Every edge of cluster `c` as (dense src, dense dst, probability). */
  def clusterEdges(g: Graph, c: Int): Iterator[(Long, Long, Double)] = {
    val n = g.sizes(c)
    val base = g.offsets(c)
    val h = mix(g.seed * 1000003L + c)
    val level = levels((h & 0xff).toInt % levels.length)
    val shape = ((h >>> 8) & 0xff).toInt % 3
    val structural: Iterator[(Long, Long, Double)] = shape match {
      case 2 if n <= 40 => // clique
        for (a <- (0 until n).iterator; b <- (a + 1 until n).iterator)
          yield (base + a, base + b, level)
      case 1 => // star
        (1 until n).iterator.map(k => (base, base + k, level))
      case _ => // chain
        (1 until n).iterator.map(k => (base + k - 1, base + k, level))
    }
    val chords = (0 until n / 3).iterator.map { k =>
      val hk = mix(h + k)
      val a = (hk & 0xffffff).toInt % n
      val b = ((hk >>> 24) & 0xffffff).toInt % n
      (base + a, base + (if (a == b) (b + 1) % n else b),
        0.5 + 0.5 * unit(mix(hk)))
    }
    structural ++ chords
  }

  val edgeSchema: StructType = StructType(Seq(
    StructField("unique_id_l", LongType, nullable = false),
    StructField("unique_id_r", LongType, nullable = false),
    StructField("match_probability", DoubleType, nullable = false)))

  /** The scored-edge frame, generated in Spark from the cluster range:
    * each task expands its clusters through [[clusterEdges]]. */
  def edges(spark: SparkSession, g: Graph, partitions: Int): DataFrame = {
    val bg = spark.sparkContext.broadcast(g)
    val seed = g.seed
    val rows = spark.sparkContext.range(0L, g.clusters.toLong, 1, partitions)
      .mapPartitions { it =>
        val gg = bg.value
        it.flatMap(c => clusterEdges(gg, c.toInt).map { case (a, b, p) =>
          val (x, y) = (nodeId(seed, a), nodeId(seed, b))
          Row(math.min(x, y), math.max(x, y), p)
        })
      }
    spark.createDataFrame(rows, edgeSchema)
  }
}
