package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, QueryDef, SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.sources.Sink
import graft.streaming.NearDupStream

/** The benchmark's JVM side. `run.py` generates every input, writes a
  * config file and launches this main; it drives the library only through
  * its public calls, times each op, hashes each result for the oracle
  * check and writes one result file back.
  *
  *   perfbench.Main defs <out.json>     -- def names and oracle SQL
  *   perfbench.Main run <config.json>   -- one benchmark run
  */
object Main {
  val json = new ObjectMapper()
  val Cores = 4

  def main(args: Array[String]): Unit = args(0) match {
    case "defs" => writeDefs(args(1))
    case "run" => new Run(json.readTree(new File(args(1)))).run()
  }

  private def writeDefs(out: String): Unit = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("relational", graft.queries.Relational.defs.map(_.name).asJava)
    m.put("oracle", SparkEntry.oracleSql.asJava)
    json.writeValue(new File(out), m)
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bytes and count of the regular files under `dirs`, by path. */
  def listing(dirs: Seq[String]): Map[String, (Long, Long)] =
    dirs.flatMap { d =>
      val root = Paths.get(d)
      if (!Files.exists(root)) Nil
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toList
        finally s.close()
      }
    }.toMap
}

final class Run(cfg: JsonNode) {
  import Main._

  private val workload = cfg.get("workload").asText
  private val data = cfg.get("data").asText
  private val work = cfg.get("work").asText
  private val tracer = new Tracer(cfg.get("trace").asBoolean)
  private val defs: Map[String, QueryDef] =
    (graft.queries.Relational.defs ++ graft.queries.Pipeline.defs)
      .map(d => d.name -> d).toMap
  private val out = new java.util.LinkedHashMap[String, Object]()
  private val ops = new java.util.ArrayList[Object]()
  private val storage = ArrayBuffer[(Double, Double)]()
  private var spark: SparkSession = _

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  private def record(fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Object]()
    fields.foreach { case (k, v) => m.put(k, v.asInstanceOf[Object]) }
    ops.add(m)
  }

  private def msSince(t0: Long) = (System.nanoTime() - t0) / 1e6

  private def sampleStorage(): Unit = if (tracer.enabled) {
    val infos = spark.sparkContext.getRDDStorageInfo
    storage += ((infos.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      infos.length.toDouble))
  }

  def run(): Unit = {
    // Set-up, timed from process launch (JVM start, class loading) to the
    // first timed op: session, tables, warm-up or index bootstrap.
    spark = session(work)
    tracer.attach(spark.sparkContext)
    tracer("tables.ensure")(Tables.ensure(spark, data))
    val state = workload match {
      case "sql-adhoc" =>
        strings(cfg.get("warmup")).foreach(n => defs(n).fn(spark, data).collect())
        None
      case "index-ingest" => Some(bootstrap())
      case _ => None
    }
    out.put("setup_s", Double.box(
      (System.currentTimeMillis() - cfg.get("launch_ms").asLong) / 1000.0))

    val t0 = System.nanoTime()
    workload match {
      case "sql-adhoc" => adhoc()
      case "curation-batch" => curation()
      case "index-ingest" => ingest(state.get)
    }
    out.put("timed_s", Double.box(msSince(t0) / 1000.0))
    out.put("ops", ops)
    // Heap in use after a full GC; the least of three, since listener and
    // cleaner threads may allocate between a collection and the reading.
    val heap = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
    }.min
    out.put("retained_mb", Double.box(heap / 1048576.0))

    if (tracer.enabled) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      def storageMean(f: ((Double, Double)) => Double) =
        if (storage.isEmpty) 0.0 else storage.map(f).sum / storage.size
      val layers = Layers.report(tracer, Cores, Map(
        "storage.cached_mb" -> storageMean(_._1),
        "storage.cached_rdds" -> storageMean(_._2)))
      out.put("layers", layers.map { case (k, v) => k -> Double.box(v) }.asJava)
      out.put("span_table", Layers.table(tracer).map { case (n, c, ms, j) =>
        Seq(n, Int.box(c), Double.box(ms), Long.box(j)).asJava }.asJava)
      out.put("kernels", kernels().map { case (k, v) => k -> Double.box(v) }.asJava)
    }
    spark.stop()
    json.writeValue(new File(cfg.get("out").asText), out)
  }

  /** One query op: define, [chain through a registered temp table],
    * plan, execute, [unregister]. Returns the collected result. */
  private def queryOp(op: Int, name: String, chained: Boolean)
      : (Array[Row], Seq[String]) = {
    val src = tracer("queries.define", op)(defs(name).fn(spark, data))
    val tmp = s"perfbench_chain_$op"
    val df =
      if (!chained) src
      else {
        tracer("engine.register", op)(Engine.registerTempTable(src, tmp))
        tracer("queries.define", op)(Engine.query(spark, s"select * from $tmp"))
      }
    tracer("plan.optimize", op)(df.queryExecution.optimizedPlan)
    tracer("plan.physical", op)(df.queryExecution.executedPlan)
    val rows = tracer("exec", op)(df.collect())
    if (chained) tracer("engine.remove", op)(Engine.removeTempTable(spark, tmp))
    (rows, df.columns.toSeq)
  }

  private def timedQuery(op: Int, name: String, chained: Boolean): Unit = {
    val t0 = System.nanoTime()
    try {
      val (rows, cols) = tracer("op", op)(queryOp(op, name, chained))
      val ms = msSince(t0)
      record("def" -> name, "chained" -> chained, "ms" -> ms,
        "rows" -> rows.length, "hash" -> Canon.hash(cols, rows))
    } catch {
      case e: Throwable =>
        record("def" -> name, "chained" -> chained, "ms" -> msSince(t0),
          "error" -> String.valueOf(e).take(300))
    }
    sampleStorage()
  }

  /** Closed loop, one client: the ops in their seeded order. */
  private def adhoc(): Unit =
    cfg.get("ops").elements().asScala.zipWithIndex.foreach { case (o, i) =>
      timedQuery(i, o.get("def").asText, o.get("chained").asBoolean)
    }

  /** One cold pass over the fixed list of curation stages. */
  private def curation(): Unit =
    strings(cfg.get("ops")).zipWithIndex.foreach { case (n, i) =>
      timedQuery(i, n, chained = false)
    }

  // ------------------------------------------------------------ index-ingest

  final class IngestState(val nd: NearDupStream.IndexState,
      var ivf: Similarity.IvfIndex)

  private def ing = cfg.get("ingest")
  private def ndPath = s"$work/nd_index"
  private def ivfPath = s"$work/ivf_index"
  private def sinkPath = s"$work/sink"

  /** Near-dup index over the bootstrap documents (built and checkpointed)
    * and the saved IVF index over the bootstrap vectors. */
  private def bootstrap(): IngestState = {
    val docs = spark.table("documents").join(
      spark.read.parquet(s"$data/boot_docs.parquet"), Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    val nd = tracer("streaming.resume")(
      NearDupStream.resume(spark, ndPath, docs, "doc_id", "text"))
    val vecs = spark.table("embeddings").join(
      spark.read.parquet(s"$data/boot_vecs.parquet"), Seq("vec_id"), "left_semi")
    tracer("ivf.build") {
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(vecs, "vec_id", "embedding"), ivfPath)
    }
    new IngestState(nd, tracer("ivf.load")(Similarity.loadIvfIndex(spark, ivfPath)))
  }

  private def ingest(st: IngestState): Unit = {
    val every = ing.get("compact_every").asInt
    val k = ing.get("k").asInt
    val nprobe = ing.get("nprobe").asInt
    val batches = strings(ing.get("batches"))
    val loop = NearDupStream.batchLoop(st.nd, "doc_id", "text",
      compactEvery = every, checkpointPath = Some(ndPath))
    val indexDirs = Seq(ndPath, ivfPath)
    var before = listing(indexDirs :+ sinkPath)
    var indexBytes, indexFiles, sinkBytes = 0L
    def written(): Unit = {
      val now = listing(indexDirs :+ sinkPath)
      now.foreach { case (p, v) =>
        if (!before.get(p).contains(v)) {
          if (p.startsWith(sinkPath)) sinkBytes += v._1
          else { indexBytes += v._1; indexFiles += 1 }
        }
      }
      before = now
    }
    val probes = ArrayBuffer[Object]()
    var op = 0
    for (c <- batches.indices) {
      val dir = batches(c)
      val maint = (c + 1) % every == 0
      val docs = spark.read.parquet(s"$dir/docs.parquet")
      val vecs = spark.read.parquet(s"$dir/vecs.parquet")
      val gone = spark.read.parquet(s"$dir/takedown.parquet")
      val b0 = System.nanoTime()
      try {
        tracer(if (maint) "maint" else "ingest", op) {
          tracer("streaming.nd_batch", op)(loop.processBatch(docs, c) {
            (kept, id) => tracer("sink.batch", op)(Sink.idempotentBatch(kept, sinkPath, id))
          })
          st.ivf = tracer("ivf.append", op)(
            Similarity.appendIvfIndex(spark, ivfPath, vecs, "vec_id", "embedding"))
          st.ivf = tracer("ivf.delete", op)(
            Similarity.deleteFromIvfIndex(spark, ivfPath, gone, "vec_id"))
          if (maint)
            st.ivf = tracer("ivf.compact", op)(Similarity.compactIvfIndex(spark, ivfPath))
        }
        record("kind" -> (if (maint) "maint" else "ingest"), "cycle" -> c,
          "ms" -> msSince(b0))
      } catch {
        case e: Throwable =>
          record("kind" -> (if (maint) "maint" else "ingest"), "cycle" -> c,
            "ms" -> msSince(b0), "error" -> String.valueOf(e).take(300))
      }
      op += 1
      sampleStorage()
      written()
      val q = spark.read.parquet(s"$dir/probes.parquet")
      val nProbes = q.select(max("probe")).head.getInt(0) + 1
      for (p <- 0 until nProbes) {
        val p0 = System.nanoTime()
        try {
          val rows = tracer("probe", op) {
            val res = tracer("ivf.probe", op)(Similarity.ivfProbe(st.ivf,
              q.where(col("probe") === p), "qid", "embedding", k, nprobe))
            tracer("exec", op)(res.select("qid", "cid").collect())
          }
          record("kind" -> "probe", "cycle" -> c, "ms" -> msSince(p0),
            "rows" -> rows.length)
          probes += Map("cycle" -> c, "probe" -> p,
            "cids" -> rows.map(_.get(1).toString.toLong).distinct.toSeq.map(Long.box).asJava)
            .asJava
        } catch {
          case e: Throwable =>
            record("kind" -> "probe", "cycle" -> c, "ms" -> msSince(p0),
              "error" -> String.valueOf(e).take(300))
        }
        op += 1
        sampleStorage()
      }
    }
    val kept = spark.read.parquet(s"$sinkPath/b*").select("doc_id").collect()
      .map(_.getLong(0)).sorted
    val disk = listing(indexDirs :+ sinkPath).values.map(_._1).sum
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("cycles", Int.box(batches.size))
    m.put("kept_ids", kept.toSeq.map(Long.box).asJava)
    m.put("probes", probes.asJava)
    m.put("index_bytes_written", Long.box(indexBytes))
    m.put("index_files", Long.box(indexFiles))
    m.put("sink_bytes_written", Long.box(sinkBytes))
    m.put("disk_bytes", Long.box(disk))
    out.put("ingest", m)
  }

  // ----------------------------------------------------------------- kernels

  /** rows/s of each native kernel over the sf0.1 `documents.text` and
    * `embeddings.embedding` columns: the median of three noop writes of a
    * projection over a cached input. */
  private def kernels(): Map[String, Double] = {
    val dir = cfg.get("kernel_data").asText
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text"), split(col("text"), " ").as("words")).cache()
    val hashes = docs.select(GraftFunctions.shingleHashes(col("words"), 2).as("h"))
      .cache()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v")).cache()
    val sample = vecs.limit(256).collect().map(_.getSeq[Double](0))
    val cents = sample.take(64).toSeq
    val codebooks = (0 until 8).map(j =>
      sample.take(16).toSeq.map(v => v.slice(j * 8, j * 8 + 8)))
    val vocab = docs.select(explode(col("words"))).distinct().collect()
      .map(_.getString(0)).sorted
    val merges = vocab.toSeq.flatMap { w =>
      (1 until w.length).map(i => (w.take(i), w.substring(i, i + 1)))
    }.distinct
    val pieces = vocab.flatMap(w => Seq(w -> -2.0) ++
      w.map(ch => ch.toString -> -5.0)).toMap
    val scrub = Seq(("\\b(key|hash)\\b", "<redacted>"), ("[0-9]+", "<n>"),
      ("(.)\\1\\1+", "$1"))
    // Each kernel's column is repeated a fixed number of times (cached), so
    // that a pass over it takes about 0.3 s at the kernel's sf0.1 rate on a
    // 4-core box and per-job overhead does not swamp the fast kernels.
    val work: Seq[(String, Int, DataFrame, String, DataFrame => org.apache.spark.sql.Column)] = Seq(
      ("shingleHashes", 6, docs, "words", d => GraftFunctions.shingleHashes(d("words"), 2)),
      ("minhashSig", 3, hashes, "h", d => GraftFunctions.minhashSig(d("h"), 64)),
      ("simhash", 4, hashes, "h", d => GraftFunctions.simhash(d("h"))),
      ("winnow", 1, docs, "text", d => GraftFunctions.winnow(d("text"), 8, 4)),
      ("rollingHashes", 6, docs, "text", d => GraftFunctions.rollingHashes(d("text"), 8)),
      ("nearestCentroids", 16, vecs, "v", d => GraftFunctions.nearestCentroids(d("v"), cents, 4)),
      ("pqEncode", 32, vecs, "v", d => GraftFunctions.pqEncode(d("v"), codebooks)),
      ("bpeEncodeWords", 1, docs, "words", d => GraftFunctions.bpeEncodeWords(d("words"), merges)),
      ("unigramEncodeWords", 2, docs, "words",
        d => GraftFunctions.unigramEncodeWords(d("words"), pieces, 16)),
      ("regexScrub", 3, docs, "text", d => GraftFunctions.regexScrub(d("text"), scrub)))
    def pass(df: DataFrame, name: String): Double = {
      val t0 = System.nanoTime()
      tracer(s"kernel.$name")(df.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    // A first, untimed pass compiles the kernel; the median of the next
    // three is reported.
    val res = work.map { case (name, reps, input, c, kernel) =>
      val rep = input.select(explode(array_repeat(col(c), reps)).as(c)).cache()
      val rows = rep.count().toDouble
      val df = rep.select(kernel(rep))
      pass(df, name)
      val times = (0 until 3).map(_ => pass(df, name)).sorted
      rep.unpersist(true)
      s"kernel.$name.rows_per_s" -> rows / times(1)
    }.toMap
    Seq(docs, hashes, vecs).foreach(_.unpersist(true))
    res
  }
}
