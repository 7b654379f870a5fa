package perfbench

import graft.corpus.CorpusDerive
import graft.extract.Kernel
import graft.pipeline.{Extraction, TableIO}
import graft.schema.ExtractedDoc
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One closed-loop workload: `reference` computes the expected result,
  * `prepare` builds the inputs in setup, `pass` runs one batch job to a
  * checked result.
  */
trait Workload {
  /** Items one pass processes: input docs, or queries for the suite. */
  def items: Long
  /** Computes the expected result by an independent path, once. */
  def reference(): Unit = ()
  /** Builds the inputs from the seed in a fresh place (one setup). */
  def prepare(spark: SparkSession, rep: Int): Unit
  /** Runs one pass; returns one line per failed op (empty when correct). */
  def pass(spark: SparkSession): Seq[String]
  /** Ops one pass attempts (docs passes count 1, the suite 1 per query). */
  def opsPerPass: Int = 1
  /** At least this many checked, untimed passes after setup (the setups'
    * own first passes warm the JIT too); `Main` goes on until the walls
    * stop falling or `warmCapSeconds` have passed.
    */
  def warmPasses: Int = 3
  def warmCapSeconds: Double = 8
  /** At least this many timed passes, however long they take. */
  def minPasses: Int = 3
  /** Shuffle partitions per core for this workload's session. */
  def partitionsPerCore: Int = 4
  /** Work after a pass that is not part of its wall: returns the ops it
    * attempted and one line per failed op. `traced` runs take the per-layer
    * measurements the untraced runs leave out.
    */
  def afterPass(spark: SparkSession, traced: Boolean): (Int, Seq[String]) = (0, Nil)
  /** Called once before the timed passes: drops what setup recorded. */
  def startTimed(): Unit = ()
  def inputs: Map[String, Any]
  def detail: Map[String, Any] = Map.empty
}

object Workload {
  def digestOf(ds: Dataset[ExtractedDoc]): Digest = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      var c = 0L
      var s = 0L
      it.foreach { d => c += 1; s += Digest.docHash(d.doc_id, d.spans, d.markdown) }
      Iterator.single((c, s))
    }.collect().foldLeft(Digest.Empty) { case (a, (c, s)) => a + Digest(c, s) }
  }

  /** Several findings about one op count as one failed op. */
  def oneOp(fs: Seq[String]): Seq[String] = if (fs.isEmpty) Nil else Seq(fs.mkString("; "))

  def check(what: String, got: Digest, want: Digest): Seq[String] =
    if (got == want) Nil else Seq(s"$what digest $got != expected $want")

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
}

/** Seeded `documents` table plus its single-thread reference digest. */
final class Documents(seed: Long, n: Int, work: String, files: Int) {
  var dir: String = ""
  var expected: Digest = Digest.Empty

  def reference(): Unit =
    expected = Trace.span("reference") {
      Inputs.documents(seed, n).foldLeft(Digest.Empty) { (acc, r) =>
        val d = Kernel.extract(CorpusDerive.deriveDoc(r.doc_id, r.text))
        acc + Digest.of(d.doc_id, d.spans, d.markdown)
      }
    }

  def prepare(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    dir = s"$work/documents-$rep"
    Trace.span("setup.input") {
      spark.sparkContext.parallelize(Inputs.striped(Inputs.documents(seed, n), files), files).toDS()
        .write.parquet(s"$dir/documents.parquet")
    }
  }

  def inputs: Map[String, Any] = Map("docs" -> n,
    "bytes" -> Workload.bytesUnder(Paths.get(dir, "documents.parquet")))
}

final class DocPipeline(seed: Long, n: Int, work: String, files: Int) extends Workload {
  val docs = new Documents(seed, n, work, files)
  def items: Long = n
  override def reference(): Unit = docs.reference()
  def prepare(spark: SparkSession, rep: Int): Unit = docs.prepare(spark, rep)
  def pass(spark: SparkSession): Seq[String] =
    Workload.check("pipeline", Workload.digestOf(
      Extraction.pipeline(CorpusDerive.derive(spark, docs.dir))), docs.expected)
  def inputs: Map[String, Any] = docs.inputs
}

/** derive → extractRows → writeResumable into a fresh directory, then a
  * readCommitted read-back (the timed pass); in traced runs half the
  * buckets then lose their manifests and the resumed write is timed on its
  * own.
  */
final class TableWrite(seed: Long, n: Int, work: String, files: Int,
                       buckets: Int) extends Workload {
  val docs = new Documents(seed, n, work, files)
  private var cycle = 0
  val resumeWalls = collection.mutable.ArrayBuffer.empty[Double]
  var storedBytes = 0L
  var filesWritten = 0L
  var dataBytes = 0L
  var manifests = 0L

  def items: Long = n
  override def reference(): Unit = docs.reference()
  def prepare(spark: SparkSession, rep: Int): Unit = docs.prepare(spark, rep)
  override def startTimed(): Unit = resumeWalls.clear()

  private def readBack(spark: SparkSession, out: String): (Digest, Seq[String]) = {
    import spark.implicits._
    val nb = buckets
    val parts = TableIO.readCommitted(spark, out).mapPartitions { it =>
      var c = 0L
      var s = 0L
      var bad = 0L
      it.foreach { r =>
        c += 1
        s += Digest.docHash(r.doc_id, r.spans, r.markdown)
        if (r.span_count != r.spans.size || r.bytes != r.markdown.length ||
            r.bucket != Extraction.bucketOf(r.doc_id, nb)) bad += 1
      }
      Iterator.single((c, s, bad))
    }.collect()
    val bad = parts.map(_._3).sum
    (parts.foldLeft(Digest.Empty) { case (a, (c, s, _)) => a + Digest(c, s) },
     if (bad == 0) Nil else Seq(s"$bad read-back rows with inconsistent bucket/span_count/bytes"))
  }

  def pass(spark: SparkSession): Seq[String] = {
    cycle += 1
    val out = s"$work/table-$cycle"
    val rows = Extraction.extractRows(CorpusDerive.derive(spark, docs.dir), buckets)
    Trace.span("tableio.write")(TableIO.writeResumable(rows, out))
    val (got, bad) = Trace.span("tableio.read_committed")(readBack(spark, out))
    Workload.oneOp(bad ++ Workload.check("read-back", got, docs.expected))
  }

  /** Traced runs lose half the manifests of the last pass's table, time
    * the resumed write and check the table again; then the table goes.
    */
  override def afterPass(spark: SparkSession, traced: Boolean): (Int, Seq[String]) = {
    val out = s"$work/table-$cycle"
    val outPath = Paths.get(out)
    try {
      filesWritten = scala.util.Using.resource(Files.walk(outPath.resolve("data"))) { st =>
        st.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      }
      dataBytes = Workload.bytesUnder(outPath.resolve("data"))
      manifests = TableIO.committedBuckets(out).size.toLong
      storedBytes = Workload.bytesUnder(outPath)
      if (traced) (1, resume(spark, out)) else (0, Nil)
    } finally Workload.deleteTree(outPath)
  }

  private def resume(spark: SparkSession, out: String): Seq[String] = {
    val outPath = Paths.get(out)
    val rnd = new java.util.Random(seed + cycle)
    val lost = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle((0 until buckets).toList).take(buckets / 2)
    lost.foreach(b => Files.delete(outPath.resolve(s"manifests/bucket-$b.json")))
    val rows = Extraction.extractRows(CorpusDerive.derive(spark, docs.dir), buckets)
    val t0 = System.nanoTime()
    val written = Trace.span("tableio.resume")(TableIO.writeResumable(rows, out))
    resumeWalls += (System.nanoTime() - t0) / 1e9
    val (got, bad) = readBack(spark, out)
    Workload.oneOp((if (written == lost.size) Nil
      else Seq(s"resume rewrote $written buckets, expected ${lost.size}")) ++
      bad ++ Workload.check("resumed read-back", got, docs.expected))
  }

  def inputs: Map[String, Any] = docs.inputs
  override def detail: Map[String, Any] = Map(
    "buckets" -> buckets,
    "resume_s" -> resumeWalls.toSeq,
    "bytes_stored_per_doc" -> storedBytes.toDouble / n,
    "files_written" -> filesWritten, "bytes_written" -> dataBytes,
    "manifests" -> manifests)
}

/** A fixed subset of `SparkEntry.queries` over the read-only testdata,
  * in a seed-permuted order; each query is collected in full. Traced runs
  * add [[QuerySuite.TracedQueries]].
  */
final class QuerySuite(seed: Long, dataDir: String, traced: Boolean) extends Workload {
  import QuerySuite._
  /** (name, family) of every query a pass runs. */
  val queries: Seq[(String, String)] = if (traced) Queries ++ TracedQueries else Queries
  val order: Seq[(String, String)] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(queries)
  /** Per pass: (name, wall seconds, rows or -1, error). */
  val runs = collection.mutable.ArrayBuffer.empty[Seq[(String, Double, Long, String)]]

  def items: Long = queries.size
  override def opsPerPass: Int = queries.size
  /** Its passes are short and their walls fall for longer. */
  override def warmCapSeconds: Double = 15
  /** One partition per core, as the engine's own query verifier runs. */
  override def partitionsPerCore: Int = 1
  def prepare(spark: SparkSession, rep: Int): Unit = ()
  override def startTimed(): Unit = runs.clear()

  def pass(spark: SparkSession): Seq[String] = {
    val res = order.map { case (name, family) =>
      val t0 = System.nanoTime()
      val (rows, err) = Trace.span(s"suite.$family") {
        try (graft.SparkEntry.queries(name)(spark, dataDir).collect().length.toLong, "")
        catch { case NonFatal(e) => (-1L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      (name, (System.nanoTime() - t0) / 1e9, rows, err)
    }
    runs += res
    res.collect { case (name, _, _, err) if err.nonEmpty => s"$name threw $err" }
  }

  def inputs: Map[String, Any] = Map("queries" -> queries.size,
    "bytes" -> Workload.bytesUnder(Paths.get(dataDir)))

  override def detail: Map[String, Any] = Map(
    "families" -> queries.toMap,
    "oracle_sql" -> queries.map { case (n, _) => n -> graft.SparkEntry.oracleSql.getOrElse(n, "") }.toMap,
    "runs" -> runs.map(_.map { case (n, w, r, e) =>
      Map("name" -> n, "wall_s" -> w, "rows" -> r, "error" -> e) }))
}

object QuerySuite {
  /** One query per module family. The whole suite is 111 queries and ~70 s
    * per steady pass on 4 cores, more than one run can hold. Streaming
    * queries cost 2.4–5 s each at sf0.001 (mostly micro-batch overhead)
    * and TableIO ones 0.8–3 s; the other families ~0.15–0.5 s. The
    * extract family runs the HTML front door through the whole pipeline;
    * the doc workloads drive the doc pipeline directly.
    */
  val Queries: Seq[(String, String)] = Seq(
    "ext_html_pipeline" -> "extract",
    "mm_decode" -> "vision",
    "dedup_simhash" -> "dedup",
    "tok_bpe" -> "tokens",
    "q3_topk" -> "sql")

  /** Run in traced runs only, for `suite.streaming_s` and `suite.tableio_s`.
    * Their walls swing with micro-batch timers and disk writes: in the timed
    * passes they made the suite's throughput spread past its bound across
    * runs on a shared machine, and they tripled the pass.
    */
  val TracedQueries: Seq[(String, String)] = Seq(
    "ev_stream_sessions" -> "streaming",
    "tio_prune" -> "tableio")
}
