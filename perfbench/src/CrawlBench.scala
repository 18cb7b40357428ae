package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.OpTrace
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.ingest.Ingest
import graft.model.LinkGraph

/** JVM side of the crawl-graph benchmark: one Spark session, one process.
  *
  * Set-up (session, registering the workload's tables, warm-up on the small fixed
  * graph beside the interrupted PageRank call that `resume` picks up from) ends
  * with a `ready` event. Then whole rounds of the same operations run until
  * `seconds` have passed; each operation prints one `BENCH {json}` line with its
  * wall time. Results go to parquet under `work/out/<round>/` for the independent
  * checks, outside every timed span.
  *
  * Arguments are `key=value`: pages, fixed, work, seconds, trace, cores.
  * `fixed` is the page table of the seed-independent graph that `plp_converge`
  * runs on. */
object CrawlBench {
  /** Round cap stated for `LabelPropagation.run` in `plp_converge`. */
  val PlpCap = 4
  /** The interrupted PageRank stops after this iteration completes. */
  val ResumeAt = 4
  /** Tolerance of the durable (interrupted and resumed) PageRank calls: looser
    * than Tol, so the ~0.5 s durable iterations fit the run budget; both
    * workloads still need more than ResumeAt + 1 iterations at it. */
  val ResumeTol = 1e-4
  /** Timed `Triangles.globalCount` calls per round. */
  val TriangleReps = 3
  /** In-memory PageRank iterations of the warm-up. */
  val WarmIters = 5
  val Tol = 1e-6
  val MB: Double = 1024.0 * 1024.0

  final case class Conf(work: Path, seconds: Double, trace: Boolean)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val conf = Conf(Paths.get(kv("work")).toAbsolutePath, kv("seconds").toDouble,
      kv("trace") == "1")
    val cores = kv("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (conf.trace) Some(OpTrace.register(spark.sparkContext)) else None
    val b = new Bench(spark, conf, tracer)

    // Two chains side by side: the workload's table, its first ingest and the
    // interrupted PageRank call; the fixed PLP graph and the warm-up on it.
    var pages: DataFrame = null
    var fixed: LinkGraph = null
    parallel(
      () => { pages = b.register(kv("pages")); b.interrupt(pages) },
      () => { fixed = LinkGraph.build(spark, b.register(kv("fixed"))); b.warmUp(fixed) })
    emit("event" -> "ready")

    val t0 = System.nanoTime()
    var i = 0
    // Whole rounds until `seconds` have passed. Traced runs alternate untraced and
    // traced rounds, at least two, so the tracing overhead is measured in the same
    // process.
    def more = (System.nanoTime() - t0) / 1e9 < conf.seconds || (conf.trace && i < 2)
    while (i == 0 || more) {
      b.round(s"r$i", pages, fixed, traced = conf.trace && i % 2 == 1)
      i += 1
    }
    // Dictionaries for the checks (the mapping LinkGraph.build uses), once per run.
    Ingest.denseDictionary(pages).write.parquet(conf.work.resolve("out/dict").toString)
    Ingest.denseDictionary(spark.read.parquet(kv("fixed")))
      .write.parquet(conf.work.resolve("out/dict_fixed").toString)
    emit("event" -> "done", "rounds" -> i)
    spark.stop()
  }

  /** Runs the calls on threads of their own and waits for all of them. */
  def parallel(calls: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = calls.map(c => new Thread(() => c()))
    threads.foreach { t =>
      t.setUncaughtExceptionHandler((_, e) => failures.add(e))
      t.start()
    }
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  def emit(fields: (String, Any)*): Unit = {
    val body = fields.map { case (k, v) =>
      val js = v match {
        case s: String => "\"" + s + "\""
        case d: Double if d.isNaN || d.isInfinite => "null"
        case other => other.toString
      }
      "\"" + k + "\":" + js
    }.mkString("{", ",", "}")
    System.out.println("BENCH " + body)
    System.out.flush()
  }

  final class Bench(spark: SparkSession, conf: Conf, tracer: Option[OpTrace]) {
    private val sc = spark.sparkContext

    def register(path: String): DataFrame = {
      val df = spark.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

    /** Runs `body` as operation `name`, timed; in a traced round also collects the
      * operation's Spark counters. */
    private def op[T](name: String, traced: Boolean)(body: => T): (T, Double, Map[String, Double]) = {
      var secs = 0.0
      def timed: T = {
        val t0 = System.nanoTime()
        val r = body
        secs = (System.nanoTime() - t0) / 1e9
        r
      }
      tracer.filter(_ => traced) match {
        case Some(t) => val (r, c) = t.measure(name)(timed); (r, secs, c)
        case None => (timed, secs, Map.empty)
      }
    }

    /** Forces every column of a result, keeping it cached for the untimed write. */
    private def materialize(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      p
    }

    /** Persisted block bytes of the RDDs created after RDD id `after`. */
    private def storageBytesSince(after: Int): Long =
      sc.getRDDStorageInfo.filter(_.id > after).map(r => r.memSize + r.diskSize).sum

    private def dirStats(p: Path): (Long, Long) =
      if (!Files.exists(p)) (0L, 0L)
      else {
        val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      }

    private def completeIters(manifest: Path): Seq[Int] =
      Files.readAllLines(manifest).asScala.toSeq.filter(_.contains("\"complete\":true"))
        .flatMap(l => "\"iter\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt))

    private val interruptedDir = conf.work.resolve("ckpt").resolve("interrupted")

    /** In-memory PageRank, components, PLP and triangles once on the small fixed
      * graph, with small iteration caps, so a round pays no first-use compilation;
      * results are discarded. The calls run side by side, so their code generation
      * and JIT compilation share the cores. Ingest and the durable PageRank plans
      * (the durable step reads back a Parquet scan, so they differ from the
      * in-memory ones) are compiled on the workload's table by `interrupt`. */
    def warmUp(g: LinkGraph): Unit = {
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      parallel(
        () => noop(PageRank.run(spark, g, tol = Tol, maxIter = WarmIters).ranks),
        () => noop(ConnectedComponents.run(spark, g, coarsenAfter = 2).labels),
        () => noop(LabelPropagation.run(spark, g, maxIterations = 2).labels),
        () => Triangles.globalCount(spark, g))
      Triangles.evictOriented(g)
    }

    /** The interrupted call that every round's `resume` picks up from: PageRank
      * on the workload's graph with a checkpoint dir, stopped once iteration
      * ResumeAt completes. */
    def interrupt(pages: DataFrame): Unit = {
      val g = LinkGraph.build(spark, pages)
      PageRank.run(spark, g, tol = ResumeTol, maxIter = ResumeAt + 1,
        checkpointDir = Some(interruptedDir.toString))
      release(g)
    }

    private def release(g: LinkGraph): Unit = {
      g.canonicalUndirected.unpersist()
      g.undirectedDegrees.unpersist()
      g.edges.unpersist()
      g.vertices.unpersist()
    }

    def round(tag: String, pages: DataFrame, fixed: LinkGraph, traced: Boolean): Unit = {
      val out = conf.work.resolve("out").resolve(tag)
      val ckpt = conf.work.resolve("ckpt").resolve(tag)
      def sink(df: DataFrame, name: String): Unit =
        df.write.mode("overwrite").parquet(out.resolve(name).toString)
      def report(opName: String, secs: Double, counters: Map[String, Double],
                 extra: (String, Any)*): Unit =
        emit((Seq[(String, Any)]("round" -> tag, "traced" -> traced, "op" -> opName,
          "s" -> secs) ++ extra ++ counters.toSeq.map { case (k, v) => s"c.$k" -> v }): _*)

      // ingest: page table -> persisted edge table.
      val firstRdd = sc.emptyRDD[Int].id
      val (g, ingestS, ingestC) = op("ingest", traced)(LinkGraph.build(spark, pages))
      val cacheMb = storageBytesSince(firstRdd) / MB
      report("ingest", ingestS, ingestC, "n" -> g.n, "m" -> g.m, "graph_cache_mb" -> cacheMb)
      sink(g.edges.select("src", "dst"), "edges")
      sink(pages.select(col("url"), md5(Ingest.extractText(col("html"))).as("md5")), "text")
      if (traced) traceIngest(tag, pages, g)

      val ((pr, ranks), prS, prC) = op("pagerank", traced) {
        val r = PageRank.run(spark, g, tol = Tol)
        (r, materialize(r.ranks))
      }
      report("pagerank", prS, prC, "iterations" -> pr.iterations, "m" -> g.m)
      sink(ranks, "pagerank"); ranks.unpersist()

      val ((cc, labels), ccS, ccC) = op("components", traced) {
        val r = ConnectedComponents.run(spark, g)
        (r, materialize(r.labels))
      }
      report("components", ccS, ccC, "rounds" -> cc.rounds)
      sink(labels, "components"); labels.unpersist()

      val (plp, plpS, plpC) = op("plp", traced) {
        materialize(LabelPropagation.fixedRounds(spark, g, 5))
      }
      report("plp", plpS, plpC)
      sink(plp, "plp")
      LabelPropagation.evictFixedRounds(g)

      val ((conv, convLabels), convS, convC) = op("plp_converge", traced) {
        val r = LabelPropagation.run(spark, fixed, maxIterations = PlpCap)
        (r, materialize(r.labels))
      }
      report("plp_converge", convS, convC, "rounds" -> conv.rounds,
        "updated_last" -> conv.lastUpdated, "cap" -> PlpCap, "n" -> fixed.n)
      sink(convLabels, "plp_converge"); convLabels.unpersist()

      // The median of TriangleReps calls (counters from the last): one ~1 s call
      // alone reads too noisy. A count of -1 reports calls that disagree.
      val tris = Seq.fill(TriangleReps) {
        val r = op("triangles", traced)(Triangles.globalCount(spark, g))
        Triangles.evictOriented(g)
        r
      }
      val counts = tris.map(_._1).distinct
      report("triangles", tris.map(_._2).sorted.apply(TriangleReps / 2), tris.last._3,
        "count" -> (if (counts.size == 1) counts.head else -1L))

      // The resumed call on a fresh copy of the interrupted checkpoint: it must pick
      // up at ResumeAt + 1 and run to convergence.
      val resDir = ckpt.resolve("resume")
      copyTree(interruptedDir, resDir)
      val manifest = resDir.resolve("pagerank/manifest.jsonl")
      val interrupted = completeIters(manifest).size
      val ((rr, resumed), resS, resC) = op("resume", traced) {
        val r = PageRank.run(spark, g, tol = ResumeTol, checkpointDir = Some(resDir.toString))
        (r, materialize(r.ranks))
      }
      val redone = completeIters(manifest).drop(interrupted).headOption
        .map(first => (ResumeAt + 1 - first).max(0)).getOrElse(0)
      report("resume", resS, resC, "iterations" -> rr.iterations, "resume_at" -> ResumeAt,
        "tol" -> ResumeTol,
        "iterations_redone" -> redone)
      sink(resumed, "resume"); resumed.unpersist()
      if (traced) {
        val (bytes, files) = dirStats(ckpt)
        emit("round" -> tag, "traced" -> traced, "op" -> "iterate",
          "checkpoint_mb" -> bytes / MB, "checkpoint_files" -> files)
      }

      release(g)
    }

    /** Ingest and model detail, traced rounds only. */
    private def traceIngest(tag: String, pages: DataFrame, g: LinkGraph): Unit = {
      val t0 = System.nanoTime()
      val dict = Ingest.denseDictionary(pages)
      val dictS = (System.nanoTime() - t0) / 1e9
      graft.iterate.Lineage.release(dict)
      val links = pages.select(explode(Ingest.extractLinks(col("html")))).count()
      // A copy of the graph value, so forcing its undirected view leaves the
      // measured graph's lazy view for the operations that use it.
      val copy = LinkGraph(g.vertices, g.edges, g.n, g.m)
      val t1 = System.nanoTime()
      copy.canonicalUndirected
      val undS = (System.nanoTime() - t1) / 1e9
      copy.canonicalUndirected.unpersist()
      emit("round" -> tag, "traced" -> true, "op" -> "ingest_detail", "dictionary_s" -> dictS,
        "links" -> links, "undirected_s" -> undS)
    }
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.toSeq.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

}
