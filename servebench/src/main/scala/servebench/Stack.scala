package servebench

import graft.api.{HttpShell, Routes}
import graft.functions.VectorFunctions.{Cosine, Euclidean}
import graft.operators.{ApproxAnn, Catalog, Engine}
import graft.sources.IndexStorage
import graft.streaming.IndexMaintenance
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Bringing the program up the way `graft.Serve` does, inside one run
  * directory, and talking to it over loopback HTTP. */
object Stack {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(runDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("servebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads the fixture into [[Corpus]] and self-tests the output checks
    * against it; returns the seconds taken. */
  def prepare(spark: SparkSession, dataDir: File): Double = {
    val t = Probe.nowMs
    Corpus.load(spark, dataDir)
    val broken = Oracle.selfTest()
    require(broken.isEmpty, s"output checks failed their self-test: ${broken.mkString("; ")}")
    (Probe.nowMs - t) / 1000
  }

  def post(port: Int, path: String, body: String): (Int, String) = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val os = c.getOutputStream
    try os.write(body.getBytes(UTF_8)) finally os.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
    finally if (in != null) in.close()
  }

  /** A served program: the engine, its HTTP shell, and the LSH serving
    * configuration attached to each vector index, as last attached. */
  final case class Up(spark: SparkSession, engine: Engine, shell: HttpShell.Server,
      serving: ConcurrentHashMap[String, Engine.ApproxServing], storeDir: File) {
    def port: Int = shell.port
    def down(): Unit = { shell.stop(); spark.stop() }
  }

  /** Phase timings of one bring-up, seconds. */
  final case class Timings(session: Double, load: Double, build: Double, bind: Double) {
    def total: Double = session + load + build + bind
  }

  val LiveIndex = "emb_live"
  def Dims: Int = Corpus.dims
  def Nbits: Int = ApproxAnn.autoNbits(Corpus.vectors.length.toLong)

  def vsMeta(index: String, space: graft.functions.VectorFunctions.Space,
      filtering: Seq[String]): Catalog.IndexMetadata =
    Catalog.IndexMetadata("vs", index, "embeddings", "embedding",
      primaryKeyColumns = Seq("vec_id"), filteringColumns = filtering,
      kind = Catalog.Vs(Catalog.IndexOptionsVs(Dims, space)))

  /** Session, table load, index store build, HTTP bind: what a serving
    * process does before its first request. `beforeLoad` runs after the
    * session exists and is not timed (it reads the fixture once). */
  def bringUp(workload: String, runDir: File, dataDir: File, storeDir: File,
      beforeLoad: SparkSession => Unit): (Up, Timings) = {
    val t0 = Probe.nowMs
    val spark = session(runDir)
    val t1 = Probe.nowMs
    beforeLoad(spark)
    val t1b = Probe.nowMs
    val engine = new Engine
    val serving = new ConcurrentHashMap[String, Engine.ApproxServing]()
    var t2 = 0.0
    workload match {
      case "serve" =>
        val emb = graft.Tables.load(spark, dataDir.getPath, "embeddings")
        val dims = emb.filter(col("embedding").isNotNull).select("embedding").limit(1)
          .collect().head.getSeq[Float](0).length
        require(dims == Dims, s"corpus has $dims dims")
        engine.addIndex(vsMeta("emb_euclidean", Euclidean, Seq("label")), emb)
        engine.addIndex(vsMeta("emb_cosine", Cosine, Seq("label")), emb)
        val docs = graft.Tables.load(spark, dataDir.getPath, "documents")
        engine.addIndex(Catalog.IndexMetadata("fts", "doc_text", "documents", "text",
          primaryKeyColumns = Seq("doc_id"), kind = Catalog.Fts(Catalog.IndexOptionsFts())), docs)
        t2 = Probe.nowMs
        val nb = ApproxAnn.autoNbitsFor(emb, "embedding")
        require(nb == Nbits, s"auto nbits $nb")
        // the store is built afresh in this run's directory: the
        // fingerprint cache of IndexStorage.materializeCached would turn
        // later runs into reuse and split set-up time into two modes
        IndexStorage.writePartitioned(ApproxAnn.buildLshIndex(emb, "embedding", nb, dims),
          storeDir.getPath, Seq("_bucket"))
        val cfg = Engine.ApproxServing(IndexStorage.read(spark, storeDir.getPath), nbits = nb)
        Seq("emb_euclidean", "emb_cosine").foreach { idx =>
          engine.setApproxServing("vs", idx, cfg)
          serving.put(idx, cfg)
        }
      case "cdc_ingest" =>
        val emb = graft.Tables.load(spark, dataDir.getPath, "embeddings")
        t2 = Probe.nowMs
        // the bootstrap scan becomes segment 0 of the maintained store
        IndexMaintenance.appendVsSegment(spark, storeDir.getPath, "vec_id", "embedding",
          Some("op"), Dims, Nbits)(emb.select(col("vec_id"), col("embedding"),
          lit("UPSERT").as("op")), 0L)
        attachLive(spark, engine, storeDir, serving)
    }
    val t3 = Probe.nowMs
    val shell = HttpShell.start(engine)
    val t4 = Probe.nowMs
    (Up(spark, engine, shell, serving, storeDir),
      Timings((t1 - t0) / 1000, (t2 - t1b) / 1000, (t3 - t2) / 1000, (t4 - t3) / 1000))
  }

  /** Register the reconciled view of the maintained store and attach it as
    * the LSH serving store: the program has no call that re-attaches a
    * maintained store to serving, so the benchmark does it after every
    * commit, and records the configuration in `serving`. */
  def attachLive(spark: SparkSession, engine: Engine, storeDir: File,
      serving: ConcurrentHashMap[String, Engine.ApproxServing]): Unit = {
    val view = IndexMaintenance.readVsSegmentIndex(spark, storeDir.getPath, "vec_id")
    val cfg = Engine.ApproxServing(view, nbits = Nbits)
    engine.addIndex(vsMeta(LiveIndex, Euclidean, Nil), view)
    engine.setApproxServing("vs", LiveIndex, cfg)
    serving.put(LiveIndex, cfg)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  /** Column types as `Routes` derives them from the registered frame. */
  def columnTypes(engine: Engine, ks: String, idx: String) =
    engine.indexFrame(ks, idx).map(_.schema.fields.flatMap(f =>
      Routes.nativeTypeOf(f.dataType).map(f.name -> _)).toMap).getOrElse(Map.empty)
}
