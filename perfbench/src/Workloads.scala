package perfbench

import graft.assemble.Triples
import graft.canon.Canon
import graft.checkpoint.Resumable
import graft.core.{ChunkProgress, Doc, LexiconEntry, LinkedMention, Triple}
import graft.data.{DocsGen, Lexicon}
import graft.detect.Detector
import graft.link.Linker
import graft.ops.{Dedup, PerfbenchGate}
import graft.pipeline.KgPipeline
import graft.tables.Icebergish
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.parallel.CollectionConverters._

/** Input sizes of one benchmark scale: `Full` for measured runs, `Tiny`
  * for the self-test.
  */
final case class Scale(
    kgDocs: Int,
    lexicon: Gen.LexShape,
    resumeHistory: Int, // chunks a pre-seeded earlier run already committed
    resumeOpen: Int, // chunks left for this run's restarts
    resumeChunkDocs: Int, // docs of each open chunk
    documents: Gen.DocsShape,
    ngramMaxDf: Int)

object Scale {
  val Full: Scale = Scale(
    kgDocs = 10000,
    lexicon = Gen.LexShape(concepts = 2000, maxSynonyms = 3, distractors = 40000),
    resumeHistory = 16, resumeOpen = 1, resumeChunkDocs = 500,
    // the sf0.1 table's shape at 3,000 of its 5,000 rows: with all 5,000
    // a run took 62–66 s, too long for the time budget (README.md)
    documents = Gen.DocsShape(baseDocs = 3000, dupShare = 0.05, copies = 2),
    ngramMaxDf = 1000) // ngramJaccardPairs' default posting cap
  val Tiny: Scale = Scale(
    kgDocs = 400,
    lexicon = Gen.LexShape(concepts = 200, maxSynonyms = 3, distractors = 800),
    resumeHistory = 3, resumeOpen = 2, resumeChunkDocs = 30,
    documents = Gen.DocsShape(baseDocs = 150, dupShare = 0.05, copies = 3),
    ngramMaxDf = 4) // low enough that some shared shingles are capped
}

/** What a timed operation hands to the untimed part of the loop. */
final case class Op(docs: Long, outBytes: () => Long, result: Any)

final class Ctx(val spark: SparkSession, val seed: Long, val scale: Scale, val cacheDir: String)

abstract class Workload(val ctx: Ctx) {
  protected val spark: SparkSession = ctx.spark
  import spark.implicits._

  /** Untimed operations at the end of set-up. The first operation after
    * JVM start is 2–3 times slower than the third, and a driver-bound KG
    * restart keeps getting faster for up to nine.
    */
  def warmups: Int = 3
  /** Expected outputs for this seed; computed once, outside set-up time. */
  def prepareOracle(): Unit
  /** Generates and stages the inputs under `dir` (the timed set-up). */
  def setup(dir: String): Unit
  /** Untimed preparation of operation `i`'s starting state. */
  def prepare(i: Int): Unit = ()
  def op(i: Int, tracer: Option[Tracer]): Op
  /** Untimed output check of one operation: None when correct. */
  def check(o: Op): Option[String]
  /** Untimed check at the end of the run: None when correct. */
  def finish(): Option[String] = None

  // ------------------------------------------------------------ shared pieces

  /** The cap of `KgPipeline.runWithCleanup`'s surface gate. */
  protected val SurfaceGateCap: Int = 1 << 18

  protected def bytesOf(root: String, ids: Seq[Long]): Long =
    ids.map(id => Icebergish.readManifest(spark, root, id).files.map(f => new java.io.File(s"$root/$f").length).sum).sum

  protected def delete(path: String): Unit = FileUtils.deleteQuietly(new java.io.File(path))

  /** The generator's gold mentions of documents [from, until), replayed on
    * the driver in parallel, in document order.
    */
  protected def golds(from: Long, until: Long, gold: Long => Seq[Gen.Gold]): Seq[Seq[Gen.Gold]] =
    (from until until).par.map(gold).seq

  /** Digest of the (subj, pred, obj, doc_id) rows of a triples table. */
  def tripleDigest(df: DataFrame): Oracle.Digest =
    df.select("subj", "pred", "obj", "doc_id").as[(String, String, String, String)]
      .mapPartitions { it =>
        val d = it.foldLeft(Oracle.Empty)((acc, t) => acc + Oracle.tripleDigest(t._1, t._2, t._3, t._4))
        Iterator((d.count, d.sum))
      }.collect().foldLeft(Oracle.Empty)((acc, p) => acc + Oracle.Digest(p._1, p._2))

  def checkTriples(df: DataFrame, want: Oracle.Digest): Option[String] = {
    val got = tripleDigest(df)
    if (got == want) None else Some(s"triples differ from the oracle: got $got, want $want")
  }

  /** The KG pipeline called layer by layer, with the calls of
    * `KgPipeline.runWithCleanup` in its order, and each layer's output
    * materialised inside its span: the sentences and the detected mentions
    * persisted and counted, the link stage's bounded-collect surface gate
    * and resolution exactly as the program runs them, the components from
    * `Canon.connectedComponents`, and the triples, shaped by `shape`,
    * persisted and counted. Counts the program does not take run aside.
    * Returns the persisted triples, their count and the pipeline's clean-up.
    */
  protected def tracedPipeline(t: Tracer, docs: Dataset[Doc], lexicon: Dataset[LexiconEntry],
      shape: DataFrame => DataFrame = identity): (DataFrame, Long, () => Unit) = {
    val width = math.max(spark.sparkContext.defaultParallelism, spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val (sents, nSents) = t.layer("pipeline.sentences") {
      val s = KgPipeline.sentences(docs).repartition(width, col("doc_id")).persist(StorageLevel.MEMORY_AND_DISK_SER)
      val n = s.count()
      t.rows("pipeline.sentences", n)
      (s, n)
    }
    val mentions = t.layer("detect") {
      val gazBc = Detector.broadcastGazetteer(spark, Lexicon.gazetteerEntries(lexicon))
      val m = Detector.detect(sents, gazBc).persist(StorageLevel.MEMORY_AND_DISK_SER)
      t.rows("detect", m.count())
      m
    }
    t.extra("detect.sentences", nSents.toDouble)
    val surfaces0 = mentions.select(col("text"), col("entity_type")).distinct()
    val (localRes, resolution) = t.layer("link") {
      val lexLocal = lexicon.queryExecution.optimizedPlan match {
        case _: LocalRelation => Some(lexicon.collect().toSeq)
        case _ => None
      }
      val localRes = lexLocal.flatMap { lexRows =>
        val paySchema = StructType(Seq(StructField("text", StringType, nullable = true),
          StructField("entity_type", StringType, nullable = true)))
        val agg = PerfbenchGate.agg(SurfaceGateCap, paySchema)
        val row = surfaces0.agg(agg(col("text"), col("entity_type")).as("_s"))
          .select(col("_s.items").as("items"), col("_s.over").as("over")).head()
        if (row.getBoolean(1)) None
        else {
          val ss = row.getSeq[Row](0).map(r => (r.getString(0), r.getString(1)))
          t.extra("link.surfaces_in", ss.size.toDouble)
          Some(Linker.surfaceResolutionLocal(ss, lexRows))
        }
      }
      val resolution = localRes match {
        case Some(rows) =>
          t.rows("link", rows.size.toLong)
          rows.toDF("text", "entity_type", "concept_id", "link_score")
        case None =>
          val r = Linker.surfaceResolution(surfaces0.as[(String, String)], lexicon).persist(StorageLevel.MEMORY_AND_DISK)
          t.rows("link", r.count())
          r
      }
      (localRes, resolution)
    }
    if (localRes.isEmpty) t.aside(t.extra("link.surfaces_in", surfaces0.count().toDouble))
    val edges = localRes match {
      case Some(rows) => rows.map { case (text, _, cid, _) => ("S:" + text, cid) }.distinct.toDF("src", "dst")
      case None => resolution.select(concat(lit("S:"), col("text")).as("src"), col("concept_id").as("dst")).distinct()
    }
    val components = t.layer("canon")(Canon.connectedComponents(edges))
    t.aside {
      t.extra("canon.edges_in", edges.count().toDouble)
      t.rows("canon", components.count())
    }
    val (triples, nTriples) = t.layer("assemble") {
      val linked = mentions
        .join(broadcast(resolution), Seq("text", "entity_type"), "inner")
        .select(col("doc_id"), col("span_idx"), col("entity_type"), col("text"),
          col("start"), col("end"), col("confidence"), col("concept_id"), col("link_score"))
        .as[LinkedMention]
      val tr = shape(Triples.canonicalize(Triples.assemble(linked), components).toDF()).persist(StorageLevel.MEMORY_AND_DISK)
      val n = tr.count()
      t.rows("assemble", n)
      (tr, n)
    }
    val cleanup = () => {
      sents.unpersist()
      mentions.unpersist()
      if (localRes.isEmpty) resolution.unpersist()
      components.unpersist()
      ()
    }
    (triples, nTriples, cleanup)
  }

  protected def tracedCommit(t: Tracer, df: DataFrame, root: String, partitionBy: Seq[String], tag: Option[String] = None): Long = {
    val id = t.layer("tables.commit")(Icebergish.commit(df, root, "append", partitionBy = partitionBy, tag = tag))
    t.aside {
      val m = Icebergish.readManifest(spark, root, id)
      t.extra("tables.commit.files", m.files.size.toDouble)
      t.rows("tables.commit", m.rows)
    }
    id
  }
}

// ---------------------------------------------------------------- kg_batch / kg_lexicon

/** One `KgPipeline.runWithCleanup` over a staged corpus, committed to a
  * fresh root partitioned by predicate (the CLI `iceberg:` sink's shape).
  * `zipf = false`: the repository's uniform corpus and vocab lexicon as a
  * LocalRelation. `zipf = true`: a Zipf corpus over a large code vocabulary,
  * and a parquet lexicon with synonyms and distractors.
  */
final class KgWorkload(ctx: Ctx, zipf: Boolean) extends Workload(ctx) {
  import spark.implicits._
  private val n = ctx.scale.kgDocs
  private lazy val zlex = new Gen.ZipfLexicon(ctx.seed, ctx.scale.lexicon)
  private var docsPath = ""
  private var lexicon: Dataset[LexiconEntry] = _
  private var expected = Oracle.Empty
  private var dir = ""

  def prepareOracle(): Unit = {
    val gold: Long => Seq[Gen.Gold] =
      if (zipf) { val l = zlex; i => Gen.zipfDoc(i, l)._2 }
      else { val seed = ctx.seed; i => Gen.uniformGold(i, seed) }
    val docs = golds(0L, n.toLong, gold)
    val concept: (String, String) => Option[String] =
      if (zipf) {
        val m = (0 until zlex.size).iterator.map(zlex.entry).map { case (c, s, t) => (s, t) -> c }.toMap
        (s, t) => m.get((s, t))
      } else {
        val m = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS()).collect().map(e => (e.surface, e.entity_type) -> e.concept_id).toMap
        (s, t) => m.get((s, t))
      }
    expected = Oracle.digest(Oracle.triples(docs.filter(_.nonEmpty), concept))
  }

  def setup(d: String): Unit = {
    dir = d
    docsPath = s"$d/docs"
    val parts = spark.sparkContext.defaultParallelism
    val docs: Dataset[Doc] =
      if (zipf) {
        val l = zlex
        spark.range(0, n.toLong, 1, parts).as[Long].mapPartitions(_.map(i => Gen.zipfDoc(i, l)._1))
      } else DocsGen.docs(DocsGen.gen(spark, n.toLong, ctx.seed, parts))
    docs.write.parquet(docsPath)
    lexicon =
      if (zipf) {
        val l = zlex
        spark.range(0, l.size.toLong, 1, parts).as[Long].map(j => l.lexiconEntry(j.toInt)).write.parquet(s"$d/lexicon")
        spark.read.parquet(s"$d/lexicon").as[LexiconEntry]
      } else Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
  }

  def op(i: Int, tracer: Option[Tracer]): Op = {
    val docs = spark.read.parquet(docsPath).as[Doc]
    val root = s"$dir/out/op-$i"
    val id = tracer match {
      case None =>
        val (triples, cleanup) = KgPipeline.runWithCleanup(docs, lexicon)
        val id = Icebergish.commit(triples.toDF(), root, "append", partitionBy = Seq("pred"))
        cleanup()
        id
      case Some(t) =>
        val (triples, _, cleanup) = tracedPipeline(t, docs, lexicon)
        val id = tracedCommit(t, triples, root, Seq("pred"))
        cleanup()
        triples.unpersist()
        id
    }
    Op(n.toLong, () => bytesOf(root, Seq(id)), root)
  }

  def check(o: Op): Option[String] = {
    val root = o.result.asInstanceOf[String]
    try checkTable(Icebergish.read(spark, root))
    finally delete(root)
  }

  def checkTable(df: DataFrame): Option[String] = checkTriples(df, expected)
}

// ---------------------------------------------------------------- kg_resume

/** Each operation is one restart of a resumable job that commits exactly
  * one chunk (`failAfterChunks = 1`). Its triples and progress tables hold
  * the history of `resumeHistory` chunks an earlier run committed, one
  * snapshot per chunk and table, so the restart's metadata reads cover that
  * history. Before each operation (untimed) the tables are reset to the
  * history, so every restart resumes at the same chunk over the same
  * history and does the same work.
  */
final class ResumeWorkload(ctx: Ctx) extends Workload(ctx) {
  import spark.implicits._
  private val sc = ctx.scale
  private val nChunks = sc.resumeHistory + sc.resumeOpen
  private val jobId = "kg"
  private val HistorySeed = 0x4157L
  private val HistoryBase = 1000000000L
  /** docs of each history chunk: a restart's history cost grows with snapshots, not docs */
  private val HistoryChunkDocs = 20
  /** the first open chunk: where every restart resumes */
  val resumeChunk: Int = sc.resumeHistory
  private lazy val lexicon = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
  private lazy val concept: (String, String) => Option[String] = {
    val m = lexicon.collect().map(e => (e.surface, e.entity_type) -> e.concept_id).toMap
    (s, t) => m.get((s, t))
  }
  private var expected: (Long, Oracle.Digest) = (0L, Oracle.Empty) // docs, triples of the resumed chunk
  private var historyExpected = Map.empty[Int, Oracle.Digest]
  private var dir = ""

  private def triplesRoot(i: Int) = s"$dir/op-$i/triples"
  private def progressRoot(i: Int) = s"$dir/op-$i/progress"
  private def staging = s"$dir/staging"

  /** Gold docs grouped by chunk, for the chunks `keep` admits. Only those
    * docs are generated; the pre-filter assumes `DocsGen`'s id format, and
    * the grouping uses the generated ids, so a change of format shows as an
    * oracle mismatch.
    */
  private def chunked(from: Long, until: Long, seed: Long, keep: Int => Boolean): Map[Int, Seq[Seq[Gen.Gold]]] =
    (from until until).filter(i => keep(Oracle.chunkOf(f"doc-$i%010d", nChunks)))
      .par.map(i => Gen.uniformGold(i, seed)).seq
      .groupBy(g => Oracle.chunkOf(g.head.docId, nChunks))
      .filter(p => keep(p._1))

  /** Snapshot id after the restart's one commit: history snapshots are 0 until resumeHistory - 1. */
  private def historySnapshots: Long = sc.resumeHistory.toLong

  private def corpusSize: Long = nChunks.toLong * sc.resumeChunkDocs

  def prepareOracle(): Unit = {
    val docs = chunked(0L, corpusSize, ctx.seed, _ == resumeChunk).getOrElse(resumeChunk, Nil)
    expected = (docs.size.toLong, Oracle.digest(Oracle.triples(docs, concept)))
    historyExpected = historyChunks.map { case (c, docs) => c -> Oracle.digest(Oracle.triples(docs, concept)) }
  }

  private lazy val historyChunks: Map[Int, Seq[Seq[Gen.Gold]]] =
    chunked(HistoryBase, HistoryBase + nChunks.toLong * HistoryChunkDocs, HistorySeed, _ < sc.resumeHistory)

  /** The history does not depend on the seed, so it is built once per build
    * of the program (through `Icebergish.commit`, as the earlier run would
    * have committed it) and copied wherever a restart needs it.
    */
  private lazy val history: String = {
    val key = s"${ctx.cacheDir}/resume-history-h${sc.resumeHistory}-n$nChunks-d$HistoryChunkDocs"
    val done = new java.io.File(key, ".complete")
    if (!done.exists()) {
      val tmp = key + ".tmp"
      delete(tmp)
      for (c <- 0 until sc.resumeHistory) {
        val docs = historyChunks.getOrElse(c, Nil)
        val rows = Oracle.triples(docs, concept).map { case (s, p, o, d) => (s, p, o, d, c) }.toSeq
        Icebergish.commit(rows.toDF("subj", "pred", "obj", "doc_id", "chunk"), s"$tmp/triples", "append",
          partitionBy = Seq("pred"), tag = Some(s"chunk-$jobId-$c"))
        val progress = ChunkProgress("history", c, docs.size.toLong, -1L, rows.size.toLong, 0L, 0L, "1970-01-01T00:00:00Z")
        Icebergish.commit(Seq(progress).toDF(), s"$tmp/progress", "append")
      }
      delete(key)
      new java.io.File(tmp).renameTo(new java.io.File(key))
      done.createNewFile()
    }
    key
  }

  def setup(d: String): Unit = {
    dir = d
    history
    val parts = spark.sparkContext.defaultParallelism
    val docs = DocsGen.docs(DocsGen.gen(spark, corpusSize, ctx.seed, parts))
      .filter(Resumable.chunkOf(nChunks) >= sc.resumeHistory)
    Resumable.stageByChunk(docs, nChunks, staging)
  }

  override def prepare(i: Int): Unit = {
    FileUtils.copyDirectory(new java.io.File(history, "triples"), new java.io.File(triplesRoot(i)))
    FileUtils.copyDirectory(new java.io.File(history, "progress"), new java.io.File(progressRoot(i)))
  }

  private def stagedDocs: Dataset[Doc] = spark.read.parquet(staging).drop("chunk").as[Doc]

  def op(i: Int, tracer: Option[Tracer]): Op = {
    val before = Icebergish.currentSnapshotId(spark, triplesRoot(i)).get
    tracer match {
      case None =>
        try Resumable.run(stagedDocs, lexicon, triplesRoot(i), progressRoot(i), nChunks, s"op$i",
          failAfterChunks = 1, stagingDir = Some(staging), jobId = jobId)
        catch { case e: RuntimeException if String.valueOf(e.getMessage).startsWith("injected failure before chunk") => }
      case Some(t) => tracedRestart(t, i)
    }
    val after = Icebergish.currentSnapshotId(spark, triplesRoot(i)).get
    Op(expected._1, () => bytesOf(triplesRoot(i), (before + 1) to after), i)
  }

  /** One restart, layer by layer, following `Resumable.run` for one chunk. */
  private def tracedRestart(t: Tracer, i: Int): Unit = {
    val own = ("^" + java.util.regex.Pattern.quote(s"chunk-$jobId-") + "(\\d+)$").r
    val (chunk, chunkDocs, nDocs, inputHash) = t.layer("checkpoint.resume") {
      val progressed = Resumable.completedChunks(spark, progressRoot(i))
      val tagged =
        if (!Icebergish.exists(spark, triplesRoot(i))) Set.empty[Int]
        else Icebergish.tagRows(spark, triplesRoot(i)).keys.collect { case own(c) => c.toInt }.toSet
      val chunk = (0 until nChunks).find(c => !progressed(c) && !tagged(c)).getOrElse(sys.error("no open chunk"))
      Resumable.stageByChunk(stagedDocs, nChunks, staging)
      val docs = Resumable.stagedChunk(spark, staging, chunk).persist(StorageLevel.MEMORY_AND_DISK)
      val stats = KgPipeline.spanSignature(docs.toDF())
        .agg(count(lit(1)).as("n"), sum(xxhash64(col("doc_id"), col("span_sig")).cast("decimal(38,0)")).as("h"))
        .head()
      val h = Option(stats.getDecimal(1)).map(_.longValue()).getOrElse(0L)
      t.rows("checkpoint.resume", stats.getLong(0))
      (chunk, docs, stats.getLong(0), h)
    }
    t.aside(t.extra("checkpoint.snapshots",
      (Icebergish.currentSnapshotId(spark, triplesRoot(i)).get + Icebergish.currentSnapshotId(spark, progressRoot(i)).get + 2).toDouble))
    val t0 = System.nanoTime()
    val (triples, nTriples, cleanup) = tracedPipeline(t, chunkDocs, lexicon, _.withColumn("chunk", lit(chunk)))
    cleanup()
    tracedCommit(t, triples, triplesRoot(i), Seq("pred"), Some(s"chunk-$jobId-$chunk"))
    val progress = ChunkProgress(s"op$i", chunk, nDocs, -1L, nTriples, (System.nanoTime() - t0) / 1000000, inputHash,
      java.time.Instant.now().toString)
    tracedCommit(t, Seq(progress).toDF(), progressRoot(i), Nil)
    chunkDocs.unpersist()
    triples.unpersist()
  }

  private var lastChecked = Option.empty[Int]

  /** The restart committed exactly one snapshot to each table: the
    * triples snapshot, tagged with the resumed chunk, holds exactly that
    * chunk's oracle triples (count and checksum), and the progress snapshot
    * records that chunk. Both are read from the snapshots' own files, so the
    * check does not grow with the history; [[finish]] reads the last
    * operation's tables back in full through `Icebergish.read`.
    */
  def check(o: Op): Option[String] = {
    val i = o.result.asInstanceOf[Int]
    lastChecked.foreach(j => delete(s"$dir/op-$j"))
    lastChecked = Some(i)
    def added(root: String): Option[(Icebergish.Snapshot, DataFrame)] =
      Icebergish.currentSnapshotId(spark, root).filter(_ == historySnapshots).map { id =>
        val m = Icebergish.readManifest(spark, root, id)
        val reader =
          if (m.partitionBy.isEmpty) spark.read
          else spark.read.option("basePath", s"$root/${m.dataDir.getOrElse(s"data/snap-${m.id}")}")
        (m, reader.parquet(m.files.map(f => s"$root/$f"): _*))
      }
    (added(triplesRoot(i)), added(progressRoot(i))) match {
      case (Some((tm, triples)), Some((_, progress))) =>
        val chunks = progress.select("chunk").as[Int].collect().toSeq
        if (tm.tag != Some(s"chunk-$jobId-$resumeChunk")) Some(s"triples snapshot tagged ${tm.tag}, want chunk $resumeChunk")
        else if (chunks != Seq(resumeChunk)) Some(s"progress snapshot lists chunks $chunks, want $resumeChunk")
        else checkTriples(triples, expected._2).map(e => s"chunk $resumeChunk: $e")
      case _ => Some(s"the restart did not commit exactly one snapshot to each table")
    }
  }

  override def finish(): Option[String] = lastChecked.flatMap(i => checkChunks(Icebergish.read(spark, triplesRoot(i))))

  /** Every chunk of a triples table holds exactly its oracle triples: none
    * missing, none twice, and no chunk other than the history and the
    * resumed one.
    */
  def checkChunks(table: DataFrame): Option[String] = {
    val got = table.select("chunk", "subj", "pred", "obj", "doc_id").as[(Int, String, String, String, String)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Int, Oracle.Digest]
        it.foreach { case (c, s, p, o, d) => m(c) = m.getOrElse(c, Oracle.Empty) + Oracle.tripleDigest(s, p, o, d) }
        m.iterator.map { case (c, d) => (c, d.count, d.sum) }
      }.collect().groupBy(_._1).map { case (c, ds) => c -> ds.map(x => Oracle.Digest(x._2, x._3)).reduce(_ + _) }
    val want = (historyExpected + (resumeChunk -> expected._2)).filter(_._2.count > 0)
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(c => got.get(c) != want.get(c))
      Some(s"committed chunks differ from the oracle at chunks ${bad.take(8).mkString(",")}: " +
        bad.take(3).map(c => s"$c got ${got.get(c)} want ${want.get(c)}").mkString("; "))
    }
  }
}

// ---------------------------------------------------------------- dedup_near

/** n-gram Jaccard then MinHash pairs over a documents table shaped as the
  * sf0.1 `documents` table and expanded with salted copies the way
  * `graft.tools.MakeSf` scales it (see `Gen.document`); both pair sets are
  * committed as tables.
  */
final class DedupWorkload(ctx: Ctx) extends Workload(ctx) {
  import spark.implicits._
  // CPU-bound kernels: the first operation takes ~2.5 times the second,
  // later ones a few per cent less each; a third warm-up would cost a run
  // another operation's time
  override def warmups: Int = 2
  private val shape = ctx.scale.documents
  val Threshold = 0.3
  private val W = 3
  private var docsPath = ""
  private var dir = ""
  private var oracle: Oracle.NgramPairs = _
  private var minhashDigest: Option[Oracle.Digest] = None
  private lazy val ids: Array[Long] = Gen.documentIds(shape).toArray
  private lazy val planted: Seq[(Long, Long)] = Gen.plantedPairs(ctx.seed, shape)

  def prepareOracle(): Unit = {
    val texts = ids.map(id => Gen.document(id, ctx.seed, shape)._2)
    oracle = new Oracle.NgramPairs(ids, texts, W, Threshold, ctx.scale.ngramMaxDf)
    oracle.expected
    planted
  }

  def setup(d: String): Unit = {
    dir = d
    docsPath = s"$d/documents"
    val (seed, sh, base) = (ctx.seed, shape, shape.baseDocs.toLong)
    spark.range(0, ids.length.toLong, 1, spark.sparkContext.defaultParallelism).as[Long]
      .map { k =>
        val (id, text, lang, source) = Gen.document((k / base) * Gen.CopyKeyOffset + k % base, seed, sh)
        (id, text, lang, source, text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(docsPath)
  }

  def op(i: Int, tracer: Option[Tracer]): Op = {
    val docs = spark.read.parquet(docsPath)
    val root = s"$dir/out/op-$i"
    val ngram = Dedup.ngramJaccardPairs(docs, "text", "doc_id", W, Threshold, ctx.scale.ngramMaxDf)
    val minhash = Dedup.minhashPairs(docs, "text", "doc_id", threshold = Threshold)
    val snaps = tracer match {
      case None =>
        Seq(Icebergish.commit(ngram, s"$root/ngram"), Icebergish.commit(minhash, s"$root/minhash"))
      case Some(t) =>
        def pairs(layer: String, df: DataFrame): DataFrame = {
          val rows = t.layer(layer)(df.collect())
          t.aside {
            t.rows(layer, rows.length.toLong)
            t.extra(s"$layer.candidate_pairs", pairExplodeRows(df).toDouble)
          }
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        }
        val ng = pairs("dedup.ngram", ngram)
        val mh = pairs("dedup.minhash", minhash)
        Seq(tracedCommit(t, ng, s"$root/ngram", Nil), tracedCommit(t, mh, s"$root/minhash", Nil))
    }
    Op(ids.length.toLong, () => bytesOf(s"$root/ngram", Seq(snaps(0))) + bytesOf(s"$root/minhash", Seq(snaps(1))), root)
  }

  /** Output rows of the node that explodes each posting into member pairs. */
  private def pairExplodeRows(df: DataFrame): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "b") => g.metrics("numOutputRows").value
    }.sum
  }

  def pairRows(df: DataFrame): Array[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))

  def check(o: Op): Option[String] = {
    val root = o.result.asInstanceOf[String]
    try {
      checkNgram(pairRows(Icebergish.read(spark, s"$root/ngram").select("id_a", "id_b", "jaccard")))
        .orElse(checkMinhash(pairRows(Icebergish.read(spark, s"$root/minhash").select("id_a", "id_b", "est_jaccard"))))
    } finally delete(root)
  }

  private def orderedOnce(rows: Array[(Long, Long, Double)]): Option[String] =
    rows.find(p => p._1 >= p._2).map(p => s"pair $p is not ordered id_a < id_b")
      .orElse(rows.sliding(2).collectFirst { case Array(a, b) if a._1 == b._1 && a._2 == b._2 => s"pair $a appears twice" })

  /** The n-gram properties, then equality with the oracle's pair set. */
  def checkNgram(rows: Array[(Long, Long, Double)]): Option[String] = {
    val exact = oracle.expected
    def missedPlanted: Option[String] = {
      val got = rows.iterator.map(p => (p._1, p._2)).toSet
      planted.find(p => !got(p) && !oracle.sharesCapped(p._1, p._2) && oracle.exactJaccard(p._1, p._2) >= Threshold)
        .map(p => s"planted pair $p (exact Jaccard ${oracle.exactJaccard(p._1, p._2)}) is not reported")
    }
    orderedOnce(rows)
      .orElse(rows.find(p => p._3 > Oracle.round6(oracle.exactJaccard(p._1, p._2)) + 1e-9)
        .map(p => s"n-gram score above the exact Jaccard ${oracle.exactJaccard(p._1, p._2)}: $p"))
      .orElse(rows.find(p => !oracle.sharesCapped(p._1, p._2) && math.abs(p._3 - Oracle.round6(oracle.exactJaccard(p._1, p._2))) > 1e-9)
        .map(p => s"n-gram score differs from the exact Jaccard ${oracle.exactJaccard(p._1, p._2)} with no capped shingle: $p"))
      .orElse(missedPlanted)
      .orElse {
        val same = rows.length == exact.length && rows.zip(exact).forall { case (a, b) =>
          a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) <= 1e-9 }
        if (same) None else Some(s"n-gram pairs differ from the oracle: ${rows.length} rows, want ${exact.length}")
      }
  }

  /** MinHash pairs are estimates: ordered, unique, within [threshold, 1],
    * between existing documents, and identical on every operation.
    */
  def checkMinhash(rows: Array[(Long, Long, Double)]): Option[String] = {
    val known = ids.toSet
    val d = rows.foldLeft(Oracle.Empty)((acc, p) => acc + Oracle.Digest(1L, Oracle.tupleHash(p._1.toString, p._2.toString, p._3.toString)))
    orderedOnce(rows)
      .orElse(rows.find(p => p._3 < Threshold || p._3 > 1.0).map(p => s"minhash estimate out of range: $p"))
      .orElse(rows.find(p => !known(p._1) || !known(p._2)).map(p => s"minhash pair of unknown ids: $p"))
      .orElse(if (rows.isEmpty) Some("no minhash pairs") else None)
      .orElse(minhashDigest match {
        case Some(prev) if prev != d => Some(s"minhash pairs changed between operations: $d vs $prev")
        case _ => minhashDigest = Some(d); None
      })
  }
}
