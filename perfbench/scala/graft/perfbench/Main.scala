package graft.perfbench

import graft.Queries
import graft.dedup.Dedup
import graft.embed.{Embed, HashEmbedder}
import graft.functions.VectorF
import graft.hybrid.Hybrid
import graft.ingest.Ingest
import graft.lexical.BM25
import graft.metrics.RankMetrics
import graft.search.{GraphAnn, IVF, SQ, Search}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Arguments the launcher (perfbench/run.py) passes to the JVM. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      input: String, work: String, spans: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("input"), m("work"), m("spans"), m("cores").toInt)
  }
}

/** What one workload's rounds hold. Every round runs the same
  * operations in the same order, so the share of each kind is fixed
  * whatever the run length. */
final case class Mix(mutates: Boolean, minRounds: Int)

object Mix {
  val byName: Map[String, Mix] = Map(
    // a round is one query, served by each mode in turn against the
    // standing indexes
    "serve-interactive" -> Mix(mutates = false, minRounds = 1),
    // a round is one append batch, its re-delivery, one delete request
    // and the valve poll; a serve follows the append and the delete
    "ingest-mutate" -> Mix(mutates = true, minRounds = 1))
}

object Main {
  def main(argv: Array[String]): Unit = {
    CheckerTest.run()
    val a = Args.parse(argv)
    require(Mix.byName.contains(a.workload), s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.work}/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val line = try new Run(spark, a, sessionS).execute()
    finally spark.stop()
    println(line)
  }
}

/** Failed operations and checker mismatches. */
final class Outcome {
  val attempted = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val failed = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val mismatches = mutable.ArrayBuffer.empty[String]
  def mismatch(what: String): Unit = {
    if (mismatches.size < 50) System.err.println(s"CHECK FAILED: $what")
    mismatches += what
  }
}

final class Run(spark: SparkSession, a: Args, sessionS: Double) {
  import spark.implicits._

  val Dim = 384          // the reference's MiniLM width
  val AttrDim = 32       // DP attribute embedding width
  val AttrSigma = 0.1    // DP attribute noise scale
  val K = 10
  val FusedDepth = 2 * K // RRF keeps every candidate of the two top-K legs
  val RrfC = 60
  val MmrLambda = 0.5
  val ShingleN = 3; val NPerm = 16; val RowsPerBand = 4; val SigBuckets = 16
  val VetJaccard = 0.5
  val AppendBatch = 8
  val RecallQueries = 50
  val DeleteIds = 4
  val SqRerank = 40      // SQ8 candidates re-scored exactly per query
  val GraphM = 8; val GraphEf = 48; val GraphTargetPart = 500
  /** serve-interactive's modes, all served one query per round. Its
    * `rag` takes the graph index as its ANN leg (the reference's HNSW);
    * IVF, the family ingest-mutate maintains, is served there. */
  val Modes = Seq("baseline", "dp", "sq8", "graph", "bm25", "rag")
  /** The serves that follow an append and a delete request: the two
    * families ingest-mutate keeps, IVF and BM25. */
  val AfterModes = Seq("ivf", "bm25")

  val mix: Mix = Mix.byName(a.workload)
  val tr = new Tracer(spark.sparkContext, a.trace)
  val out = new Outcome
  val emb = new HashEmbedder(Dim, 42)
  val attrEmb = new HashEmbedder(AttrDim, 7)
  val queryPool: Vector[String] = scala.io.Source.fromFile(s"${a.input}/queries.txt", "UTF-8")
    .getLines().filter(_.nonEmpty).toVector

  // ---- this run's index and store locations ----
  var root = ""
  def ivfPath = s"$root/idx/ivf/index"
  def sqPath = s"$root/idx/sq/index"
  def graphPath = s"$root/idx/graph/index"
  def bm25Base = s"$root/idx/lex/postings"
  def regBase = s"$root/idx/reg/register"
  def docsPath = s"$root/store/docs"
  def vecsPath = s"$root/store/vectors"
  def deletedPath = s"$root/store/deleted"
  def indexRoots: Seq[String] =
    (if (mix.mutates) Seq("ivf", "lex", "reg") else Seq("ivf", "sq", "graph", "lex"))
      .map(d => s"$root/idx/$d")
  var tbl = ""
  var nLists = 0
  var nprobe = 0

  // ---- live handles ----
  var ivfGen: (String, String) = null
  var sqGen: (String, String) = null
  var graphGen = ""
  var bm25Live = ""
  var regLive = ""

  // ---- the checker's bookkeeping (driver-side truth) ----
  val vecOf = mutable.HashMap.empty[Long, Array[Double]]
  val dpOf = mutable.HashMap.empty[Long, Array[Double]]
  val docOf = mutable.HashMap.empty[Long, Checker.Doc]
  val textOf = mutable.HashMap.empty[Long, String]
  val live = mutable.LinkedHashSet.empty[Long]
  val registered = mutable.HashSet.empty[Long]
  var baseIds = Vector.empty[Long]
  var appendedIds = Vector.empty[Long]
  var checking = false
  var liveArrays: (Array[Long], Array[Array[Double]], Array[Array[Double]]) = null

  // ---- incoming documents ----
  var incoming: Vector[Row] = Vector.empty
  var incomingCursor = 0
  var nextBatchId = 1L

  // ---- samples of the timed loop ----
  var timing = false
  val serveByMode = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val appendMs = mutable.ArrayBuffer.empty[Double]
  val deleteMs = mutable.ArrayBuffer.empty[Double]
  var recallSum = 0.0
  var recallN = 0L
  val recallRows = mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[Long])]
  var queryCursor = 0

  def nextQuery(): String = { val q = queryPool(queryCursor % queryPool.size); queryCursor += 1; q }

  /** The graph and bm25 answers served since the last mutation, by
    * (mode, query): the rag check takes its two legs from here when the
    * same query was served by both modes on the same index state. */
  val answers = mutable.HashMap.empty[(String, String), Checker.Ranked]
  def nowMs(): Double = System.nanoTime() / 1e6

  // =====================================================================
  // set-up
  // =====================================================================

  def ingest(): Unit = tr.span("ingest.load") {
    val raw = graft.sources.Tables.csv(spark, s"${a.input}/base.csv")
    val cols = Ingest.resolveColumns(raw,
      Seq("_c0", "name", "gender", "age", "city", "medical_specialty", "transcription"))
    val docs = cols.filter(col("transcription").isNotNull)
      .select(col("_c0").cast("long").as("doc_id"),
        Ingest.cleanText(Ingest.prefixWhenPresent(col("medical_specialty"),
          col("transcription"))).as("text"),
        Embed.attrText(Seq("name", "gender", "age", "city")).as("attr"))
    Ingest.dedupFirst(docs, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(docsPath)
  }

  /** Text vectors plus the DP vectors: normalize(0.7·text ⊕ 0.3·noisy attr). */
  def embedded(docs: DataFrame): DataFrame =
    Embed.embedDocsAttr(docs, "doc_id", "text", "attr", emb, attrEmb)
      .select(col("doc_id"), col("vec").cast("array<double>").as("vec"),
        VectorF.l2normalize(VectorF.weightedConcat(col("vec"), 0.7,
          VectorF.addNoise(col("avec"), col("doc_id"), AttrSigma), 0.3)).as("dpv"))

  def bands(docs: DataFrame): DataFrame =
    Dedup.bandedSignatures(docs, "doc_id", "text", ShingleN, NPerm, RowsPerBand)
      .withColumn("sigbucket", graft.CurationQueries.sigbucket(col("band"), col("bandsig")))

  def build(): Unit = {
    tr.span("embed.corpus") {
      embedded(spark.read.parquet(docsPath)).write.mode("overwrite").parquet(vecsPath)
    }
    val vecs = spark.read.parquet(vecsPath)
    val n = vecs.count()
    nLists = math.max(8, math.ceil(math.sqrt(n.toDouble) / 4).toInt)
    nprobe = math.max(2, nLists / 3)
    // the mutation workload maintains IVF, BM25 and the register; the
    // serving workload serves SQ8, the graph index and BM25
    if (mix.mutates)
      tr.span("search.ivf.build") { IVF.writeIndex(vecs, "doc_id", "vec", nLists, 1, ivfPath) }
    else {
      tr.span("search.sq8.build") { SQ.writeIndex(vecs, "doc_id", "vec", nLists, sqPath) }
      tr.span("search.graph.build") {
        GraphAnn.writeIndex(vecs, "doc_id", "vec", GraphM, GraphEf,
          math.ceil(n.toDouble / GraphTargetPart).toInt, graphPath)
      }
    }
    tr.span("lexical.bm25.build") {
      Queries.writePostings(spark, spark.read.parquet(docsPath).select("doc_id", "text"),
        tbl, bm25Base, "overwrite")
    }
    if (mix.mutates) tr.span("dedup.register_build") {
      Dedup.writeRegister(bands(spark.read.parquet(docsPath)), regBase, SigBuckets)
    }
    bm25Live = Queries.postingsLivePath(spark, tbl)
    regLive = regBase
    refreshHandles()
  }

  def refreshHandles(): Unit = {
    if (mix.mutates) ivfGen = IVF.currentGeneration(ivfPath)
    else {
      sqGen = IVF.currentGeneration(sqPath)
      graphGen = GraphAnn.currentGeneration(graphPath)
    }
  }

  /** Loads the checker's truth for the standing corpus (untimed). */
  def loadTruth(): Unit = {
    vecOf.clear(); dpOf.clear(); docOf.clear(); textOf.clear(); live.clear(); registered.clear()
    val texts = spark.read.parquet(docsPath).select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, t) => textOf(id) = t; docOf(id) = Checker.doc(t) }
    val rows = spark.read.parquet(vecsPath)
      .select(col("doc_id"), col("vec"), col("dpv")).as[(Long, Array[Double], Array[Double])].collect()
    rows.sortBy(_._1).foreach { case (id, v, d) => admit(id, v, d) }
    baseIds = live.toVector
    appendedIds = Vector.empty
    registered ++= live
    liveArrays = null
  }

  /** Records one document the engine made servable; its text vector is
    * re-derived by the checker's own embedder and must agree exactly. */
  def admit(id: Long, v: Array[Double], d: Array[Double]): Unit = {
    val mine = Checker.embed(textOf(id), Dim, 42)
    if (!java.util.Arrays.equals(Checker.toD(mine), v)) out.mismatch(s"embed: doc $id vector differs from the checker's")
    vecOf(id) = Checker.toD(mine)
    dpOf(id) = d
    live += id
    liveArrays = null
  }

  def arrays: (Array[Long], Array[Array[Double]], Array[Array[Double]]) = {
    if (liveArrays == null) {
      val ids = live.toArray.sorted
      liveArrays = (ids, ids.map(vecOf), ids.map(dpOf))
    }
    liveArrays
  }

  /** From the ready Spark session to the first timed request: ingest,
    * embed, every index build and the warm-up pass. The checker's truth
    * load is excluded. */
  def setup(): Double = {
    root = s"${a.work}/engine"
    tbl = "pb_postings"
    val t0 = nowMs()
    ingest()
    build()
    val buildMs = nowMs() - t0
    loadTruth()
    val t1 = nowMs()
    warmup()
    buildMs + (nowMs() - t1)
  }

  /** One call of every step shape the workload runs: each serve mode
    * and, when it mutates, one append, its re-delivery, one delete and
    * the valve poll. Unchecked: the checker starts with the timed loop. */
  def warmup(): Unit = {
    tr.phase = "warmup"
    if (mix.mutates) AfterModes.foreach(m => serve(m, nextQuery()))
    else { val q = nextQuery(); Modes.foreach(m => serve(m, q)) }
    if (mix.mutates) {
      val b = append()
      replay(b)
      delete()
      maintain()
    }
    tr.phase = "setup"
  }

  // =====================================================================
  // serves
  // =====================================================================

  def liveVecs(): DataFrame = {
    val v = spark.read.parquet(vecsPath)
    if (new java.io.File(deletedPath).isDirectory)
      v.join(spark.read.parquet(deletedPath), Seq("doc_id"), "left_anti")
    else v
  }
  def postings(): DataFrame = spark.table(tbl)
  def terms(q: String): Seq[String] = q.toLowerCase.trim.split("\\s+").distinct.toSeq

  def ivfServe(qdf: DataFrame, k: Int): DataFrame =
    IVF.searchIndexPinned(spark, ivfPath, ivfGen, "doc_id", "vec", qdf, "qv", k, nprobe)
  def graphServe(qdf: DataFrame, k: Int): DataFrame =
    GraphAnn.searchIndexPinned(spark, graphPath, graphGen, "doc_id", qdf, "qv", k, GraphEf)
  def bm25Serve(q: String, k: Int): DataFrame = {
    val post = postings()
    BM25.searchIndexed(spark, bm25Live, post, BM25.statsFromPostings(post), terms(q), k)
  }

  def ranked(rows: Array[Row], idIdx: Int = 0, scoreIdx: Int = 2): Checker.Ranked =
    rows.toSeq.sortBy(_.getLong(1)).map(r => (r.getAs[Number](idIdx).longValue(), r.getDouble(scoreIdx)))

  def serve(mode: String, q: String): Unit = op("serve") {
    tr.newRequest()
    val t0 = nowMs()
    var check: () => Unit = () => ()
    tr.span(s"request.$mode") {
      val qv = tr.span("embed.query") { emb.embed(q) }
      val qd = qv.map(_.toDouble)
      val qdf = Seq(Tuple1(qd)).toDF("qv")
      mode match {
        case "baseline" =>
          val r = tr.span("search.exact.serve") {
            Search.topK(liveVecs(), "doc_id", "vec", qdf, "qv", K).collect()
          }
          check = () => checkExact("baseline", ranked(r), qd, dp = false)
        case "dp" =>
          val r = tr.span("search.dp.serve") {
            Search.topK(liveVecs(), "doc_id", "dpv",
              qdf.select(Search.dpQueryVec(col("qv"), AttrDim, 0.7).as("qv")), "qv", K).collect()
          }
          check = () => checkExact("dp", ranked(r), Checker.dpQuery(qv, AttrDim, 0.7), dp = true)
        case "ivf" =>
          val r = tr.span("search.ivf.serve") { ivfServe(qdf, K).collect() }
          check = () => checkAnn("ivf", ranked(r), qd, K)
        case "sq8" =>
          val r = tr.span("search.sq8.serve") {
            SQ.searchIndexPinned(spark, sqPath, sqGen, liveVecs(), "doc_id", "vec", qdf, "qv",
              K, nprobe, SqRerank).collect()
          }
          check = () => checkAnn("sq8", ranked(r), qd, K)
        case "graph" =>
          val r = tr.span("search.graph.serve") { graphServe(qdf, K).collect() }
          check = () => { checkAnn("graph", ranked(r), qd, K); answers(("graph", q)) = ranked(r) }
        case "bm25" =>
          val r = tr.span("lexical.bm25.serve") { bm25Serve(q, K).collect() }
          check = () => { checkBm25("bm25", ranked(r), q, K); answers(("bm25", q)) = ranked(r) }
        case "rag" =>
          // one action runs the ANN leg, the BM25 leg and the fusion
          val fused = tr.span("hybrid.rrf") {
            Hybrid.rrfFuse(graphServe(qdf, K), "doc_id", bm25Serve(q, K), "doc",
              RrfC, FusedDepth).collect()
          }
          val ids = fused.map(_.getLong(0)).toSeq
          val picks = tr.span("hybrid.mmr") {
            val cands = liveVecs().filter(col("doc_id").isin(ids: _*))
              .select(col("doc_id").as("id"), col("vec"),
                VectorF.dot(col("vec"), typedLit(qd.toSeq)).as("sim"))
            Hybrid.mmrRerank(cands, "id", "vec", "sim", K, MmrLambda)(spark).collect()
          }
          val pickIds = picks.sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
          val snippets = spark.read.parquet(docsPath).filter(col("doc_id").isin(pickIds: _*))
            .select(col("doc_id"), Ingest.snippet(col("text"), 60)).collect()
          check = () => checkRag(q, qdf, qd, ranked(fused), pickIds, snippets.length)
      }
    }
    lastServeMs = nowMs() - t0
    if (timing) serveByMode.getOrElseUpdate(mode, mutable.ArrayBuffer.empty[Double]) += lastServeMs
    if (checking) check()
  }

  // =====================================================================
  // mutations
  // =====================================================================

  /** One delivered batch: its register signatures, its (doc_id, vec, dpv)
    * and (doc_id, text) rows, both materialized, and its accepted ids. */
  final case class Batch(id: Long, sigs: DataFrame, delta: DataFrame, texts: DataFrame,
                         accepted: Seq[Long])

  def mutation[T](kind: String, sample: mutable.ArrayBuffer[Double])(f: => T): Option[T] = {
    answers.clear()
    tr.newRequest()
    val t0 = nowMs()
    val r = op(kind)(f)
    val ms = nowMs() - t0
    if (timing && sample != null) sample += ms
    r
  }

  def incomingRows(n: Int): Seq[Row] = {
    if (incoming.isEmpty)
      incoming = Ingest.resolveColumns(graft.sources.Tables.csv(spark, s"${a.input}/incoming.csv"),
          Seq("_c0", "name", "gender", "age", "city", "medical_specialty", "transcription"))
        .filter(col("transcription").isNotNull)
        .select(col("_c0").cast("long").as("doc_id"),
          Ingest.cleanText(Ingest.prefixWhenPresent(col("medical_specialty"),
            col("transcription"))).as("text"),
          Embed.attrText(Seq("name", "gender", "age", "city")).as("attr"))
        .orderBy("doc_id").collect().toVector
    require(incomingCursor + n <= incoming.size,
      s"incoming documents exhausted after ${incomingCursor} (the generator's --incoming is too small)")
    val rows = incoming.slice(incomingCursor, incomingCursor + n)
    incomingCursor += n
    rows
  }

  /** One append batch: embed, vet against the MinHash register, then
    * append exactly-once to every family. */
  def append(): Option[Batch] = {
    val rows = incomingRows(AppendBatch)
    val bid = nextBatchId
    nextBatchId += 1
    val res = mutation("append", appendMs) {
      tr.span("request.append") {
        val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          new org.apache.spark.sql.types.StructType()
            .add("doc_id", "long").add("text", "string").add("attr", "string"))
        val sigs = bands(raw).localCheckpoint()
        val rejected = tr.span("dedup.vet") {
          val all = spark.read.parquet(docsPath).select("doc_id", "text")
            .unionByName(raw.select("doc_id", "text"))
          graft.CurationQueries.q98BatchMatchesSigs(spark, sigs, regLive, all)
            .filter(col("jaccard") >= VetJaccard).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
        val rej = rejected.map(_._1).toSet
        tr.span("dedup.register_append", Seq(s"$root/idx/reg")) {
          regLive = Dedup.appendToRegisterIdempotent(spark, regLive,
            sigs.filter(!col("id").isin(rej.toSeq: _*)), SigBuckets, bid)
        }
        val delta = tr.span("embed.batch") {
          embedded(raw.filter(!col("doc_id").isin(rej.toSeq: _*))).localCheckpoint()
        }
        val texts = raw.filter(!col("doc_id").isin(rej.toSeq: _*)).localCheckpoint()
        texts.write.mode("append").parquet(docsPath)
        delta.write.mode("append").parquet(vecsPath)
        val batch = Batch(bid, sigs.filter(!col("id").isin(rej.toSeq: _*)), delta, texts,
          rows.map(_.getLong(0)).filterNot(rej))
        appendAll(batch, "append")
        refreshHandles()
        (batch, rows, rejected)
      }
    }
    res.map { case (b, rs, rejected) =>
      if (checking) rejected.foreach { case (newId, oldId, j) =>
        val text = rs.find(_.getLong(0) == newId).get.getString(1)
        val mine = Checker.jaccard(Checker.shingles(text, ShingleN), Checker.shingles(textOf(oldId), ShingleN))
        if (!registered.contains(oldId) || mine < VetJaccard || math.abs(mine - j) > 1e-4)
          out.mismatch(s"vet: $newId rejected against $oldId at $j, checker says $mine")
      }
      rs.foreach(r => textOf(r.getLong(0)) = r.getString(1))
      b.delta.select(col("doc_id"), col("vec"), col("dpv"))
        .as[(Long, Array[Double], Array[Double])].collect().sortBy(_._1)
        .foreach { case (id, v, d) => docOf(id) = Checker.doc(textOf(id)); admit(id, v, d) }
      registered ++= b.accepted
      appendedIds ++= b.accepted
      if (checking) checkAppendedServable(b.accepted)
      b
    }
  }

  /** The idempotent append of one batch to every family. */
  def appendAll(b: Batch, step: String): Unit = {
    def s[T](fam: String, roots: Seq[String])(f: => T): T = tr.span(s"$fam.$step", roots)(f)
    if (step == "replay") tr.span("dedup.register.replay") {
      regLive = Dedup.appendToRegisterIdempotent(spark, regLive, b.sigs, SigBuckets, b.id) }
    s("search.ivf", Seq(s"$root/idx/ivf")) {
      IVF.appendToIndexIdempotent(spark, ivfPath, b.delta, "doc_id", "vec", b.id) }
    s("lexical.bm25", Seq(s"$root/idx/lex")) {
      Queries.writePostingsIdempotent(spark, b.texts.select("doc_id", "text"), tbl, b.id) }
  }

  /** The same batch delivered a second time under its batch id. */
  def replay(b: Option[Batch]): Unit = b.foreach { batch =>
    val before = if (checking) FileCount.files(indexRoots) else Set.empty[String]
    mutation("replay", null) {
      tr.span("request.replay") {
        tr.span("streaming.replay", indexRoots) {
          appendAll(batch, "replay")
        }
      }
    }
    if (checking) {
      val after = FileCount.files(indexRoots)
      if (after != before)
        out.mismatch(s"replay of batch ${batch.id} changed the index files: " +
          s"${(after -- before).take(3)} added, ${(before -- after).take(3)} removed")
    }
  }

  /** Deletes base ids and ids appended earlier in the run. */
  def delete(): Unit = {
    val base = baseIds.filter(live.contains)
    val app = appendedIds.filter(live.contains)
    val nApp = math.min(app.size, DeleteIds / 2)
    val ids = (scala.util.Random.javaRandomToRandom(new java.util.Random(a.seed * 31 + nextBatchId))
      .shuffle(base).take(DeleteIds - nApp) ++ app.takeRight(nApp)).distinct
    mutation("delete", deleteMs) {
      tr.span("request.delete") {
        val idDf = ids.toDF("doc_id")
        tr.span("search.ivf.delete") { IVF.deleteFromIndex(spark, ivfPath, idDf, "doc_id") }
        tr.span("lexical.bm25.delete") {
          BM25.deleteFromPostings(spark, bm25Live, postings(), ids.toDF("doc")) }
        tr.span("dedup.register_delete") { Dedup.deleteFromRegister(spark, regLive, idDf) }
        idDf.write.mode("append").parquet(deletedPath)
      }
    }
    live --= ids
    registered --= ids
    liveArrays = null
  }

  /** The needsCompact valves, polled after every delete; each one that
    * fires compacts its family. Each delete hides [[DeleteIds]] live
    * ids and the valves fire above DeleteIds hidden ids, so they fire
    * at every second delete: the first is the warm-up's, the second the
    * first round's. Same steps in every run. */
  def maintain(): Unit = {
    answers.clear()
    op("maintain") {
      tr.newRequest()
      tr.span("request.maintain") {
        val t = DeleteIds.toLong
        if (IVF.needsCompact(spark, ivfPath, t))
          tr.span("search.ivf.compact", Seq(s"$root/idx/ivf")) { IVF.compactIndex(spark, ivfPath) }
        if (BM25.needsCompact(spark, bm25Live, t))
          tr.span("lexical.bm25.compact", Seq(s"$root/idx/lex")) {
            bm25Live = Queries.compactPostings(spark, tbl, bm25Live) }
        if (Dedup.needsCompactRegister(spark, regLive, t))
          tr.span("dedup.register_compact", Seq(s"$root/idx/reg")) {
            regLive = Dedup.compactRegister(spark, regLive, SigBuckets) }
        refreshHandles()
      }
    }
    if (checking) {
      checkCounts("after maintenance", familyCounts())
      checkRegister("after maintenance")
    }
  }

  // =====================================================================
  // checks (untimed)
  // =====================================================================

  def familyCounts(): Map[String, Long] = {
    val post = BM25.livePostings(spark, bm25Live, postings())
    Map(
      "exact" -> liveVecs().count(),
      "ivf" -> IVF.listsRows(spark, ivfPath).count(),
      "bm25" -> post.select("doc").distinct().count())
  }

  /** The register's live ids equal the benchmark's registered set. */
  def checkRegister(when: String): Unit = {
    val got = Dedup.liveRegister(spark, regLive, spark.read.parquet(regLive))
      .select("id").distinct().as[Long].collect().toSet
    if (got != registered)
      out.mismatch(s"$when: register lacks ${(registered -- got).take(5)}, " +
        s"holds unregistered ${(got -- registered).take(5)}")
  }

  def checkCounts(when: String, c: Map[String, Long]): Unit =
    c.foreach { case (fam, n) =>
      if (n != live.size) out.mismatch(s"$when: $fam holds $n live rows, bookkeeping says ${live.size}")
    }

  def checkExact(what: String, got: Checker.Ranked, q: Array[Double], dp: Boolean): Unit = {
    val (ids, v, d) = arrays
    val want = Checker.exactTopK(ids, if (dp) d else v, q, K)
    Checker.sameRanking(got, want, 1e-6).foreach(m => out.mismatch(s"$what: $m"))
  }

  def checkAnn(what: String, got: Checker.Ranked, q: Array[Double], k: Int): Unit = {
    val ids = got.map(_._1)
    if (ids.size != math.min(k, live.size)) out.mismatch(s"$what: ${ids.size} results, expected $k")
    if (ids.distinct.size != ids.size) out.mismatch(s"$what: duplicate ids $ids")
    ids.filterNot(live.contains).foreach(id => out.mismatch(s"$what: id $id is not live"))
    got.filter(x => live.contains(x._1)).foreach { case (id, s) =>
      val e = Checker.dot(vecOf(id), q)
      if (math.abs(e - s) > 1e-6) out.mismatch(s"$what: id $id score $s, exact dot is $e")
    }
    if (got.map(_._2).sliding(2).exists { case Seq(x, y) => x < y; case _ => false })
      out.mismatch(s"$what: scores not sorted")
  }

  /** recall@10 of every ANN family the workload built (IVF in
    * ingest-mutate, SQ8 and the graph index in serve-interactive) over the first
    * [[RecallQueries]] pool queries, answered in one multi-query call
    * per family after the timed loop; the truth is the checker's
    * brute-force top-10 over the live set. */
  def measureRecall(): Unit = {
    val qs = queryPool.take(RecallQueries)
    val qvs = qs.map(q => emb.embed(q).map(_.toDouble))
    val qdf = qvs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("qid", "qv")
    val (lids, v, _) = arrays
    val truth = qvs.map(q => Checker.exactTopK(lids, v, q, K).map(_._1))
    val families =
      if (mix.mutates) Seq("ivf" -> (() => IVF.searchIndexMultiPinned(spark, ivfPath, ivfGen,
        "doc_id", "vec", qdf, "qid", "qv", K, nprobe)))
      else Seq(
        "sq8" -> (() => SQ.searchIndexMulti(spark, sqPath, liveVecs(), "doc_id", "vec", qdf,
          "qid", "qv", K, nprobe, SqRerank)),
        "graph" -> (() => GraphAnn.searchIndexMultiPinned(spark, graphPath, graphGen, "doc_id",
          qdf, "qid", "qv", K, GraphEf)))
    families.foreach { case (fam, search) =>
      val got = search().select("qid", "doc_id", "rank", "score")
        .as[(Long, Long, Long, Double)].collect()
        .groupBy(_._1).map { case (qid, rs) => qid -> rs.sortBy(_._3).map(r => (r._2, r._4)).toSeq }
      qvs.indices.foreach { i =>
        val ans = got.getOrElse(i.toLong, Seq.empty)
        checkAnn(s"$fam recall probe", ans, qvs(i), K)
        recallSum += Checker.recall(truth(i), ans.map(_._1))
        recallN += 1
        recallRows += ((recallN, truth(i), ans.map(_._1)))
      }
    }
  }

  def checkBm25(what: String, got: Checker.Ranked, q: String, k: Int): Unit = {
    val truth = Checker.bm25(live.toSeq.map(id => id -> docOf(id)), terms(q))
    // the engine reports BM25 scores rounded to 4 decimals
    Checker.sameUpToTies(got, truth, k, 0.5e-4 + 1e-9, 1e-9).foreach(m => out.mismatch(s"$what: $m"))
  }

  def checkRrf(what: String, got: Checker.Ranked, vec: Seq[Long], lex: Seq[Long], k: Int): Unit =
    Checker.sameRanking(got, Checker.rrf(vec, lex, RrfC, k), 1e-6).foreach(m => out.mismatch(s"$what: $m"))

  def checkRag(q: String, qdf: DataFrame, qd: Array[Double], fused: Checker.Ranked,
               picks: Seq[Long], nSnippets: Int): Unit = {
    val vecLeg = answers.getOrElse(("graph", q), ranked(graphServe(qdf, K).collect()))
    val lexLeg = answers.getOrElse(("bm25", q), ranked(bm25Serve(q, K).collect()))
    checkAnn("rag ann leg", vecLeg, qd, K)
    checkBm25("rag bm25 leg", lexLeg, q, K)
    checkRrf("rag rrf", fused, vecLeg.map(_._1), lexLeg.map(_._1), FusedDepth)
    val cands = fused.map(_._1).filter(live.contains).map(id => (id, vecOf(id), Checker.dot(vecOf(id), qd)))
    val want = Checker.mmr(cands, K, MmrLambda)
    if (want != picks) out.mismatch(s"rag mmr: picks $picks, checker picks $want")
    if (nSnippets != picks.size) out.mismatch(s"rag: ${picks.size} picks but $nSnippets snippets")
  }

  /** An exact serve of each appended document's own vector returns it. */
  def checkAppendedServable(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
    val qdf = ids.map(id => (id, vecOf(id))).toDF("qid", "qv")
    val got = Search.multiTopK(liveVecs(), "doc_id", "vec", qdf, "qid", "qv", K)
      .select("qid", "doc_id").as[(Long, Long)].collect().groupBy(_._1)
    ids.foreach { id =>
      if (!got.getOrElse(id, Array.empty).exists(_._2 == id))
        out.mismatch(s"append: doc $id is not in the top-$K of its own vector")
    }
  }

  /** RankMetrics' recall@10 over the recorded ANN serves equals the checker's. */
  def crossCheckRankMetrics(): Unit = if (recallRows.nonEmpty) {
    def frame(f: ((Long, Seq[Long], Seq[Long])) => Seq[Long]) = recallRows.toSeq.flatMap { r =>
      f(r).zipWithIndex.map { case (id, i) => (r._1, id, (i + 1).toLong) }
    }.toDF("qid", "id", "rank")
    val m = RankMetrics.all(frame(_._2), frame(_._3), K)
      .agg(avg(col("recall"))).head().getDouble(0)
    val mine = recallSum / recallN
    if (math.abs(m - mine) > 1e-9) out.mismatch(s"RankMetrics recall@10 $m != checker's $mine")
  }

  /** Append ≡ rebuild: each family answers a fixed query set exactly as a
    * fresh build over the final live set under the standing quantizer or
    * routing. */
  def rebuildCheck(): Unit = {
    val fresh = s"$root/rebuild"
    val qs = queryPool.take(16)
    val qdf = qs.zipWithIndex.map { case (q, i) => (i.toLong, emb.embed(q).map(_.toDouble)) }
      .toDF("qid", "qv")
    val lv = liveVecs()
    def same(fam: String, x: DataFrame, y: DataFrame): Unit = {
      val (p, r) = (x.collect().map(_.toString).sorted.toSeq, y.collect().map(_.toString).sorted.toSeq)
      if (p != r) out.mismatch(s"append != rebuild for $fam: ${p.diff(r).take(3)} vs ${r.diff(p).take(3)}")
    }
    op("rebuild_check_ivf") {
      val cents = spark.read.parquet(IVF.centroidsPath(ivfPath)).localCheckpoint()
      IVF.writeIndexFrom(cents, IVF.assignAuto(lv, "doc_id", "vec", cents, nLists), s"$fresh/ivf")
      same("ivf", IVF.searchIndexMulti(spark, ivfPath, "doc_id", "vec", qdf, "qid", "qv", K, nprobe),
        IVF.searchIndexMulti(spark, s"$fresh/ivf", "doc_id", "vec", qdf, "qid", "qv", K, nprobe))
    }
    op("rebuild_check_bm25") {
      val t2 = tbl + "_fresh"
      Queries.writePostings(spark, spark.read.parquet(docsPath).join(
        lv.select("doc_id"), "doc_id").select("doc_id", "text"), t2, s"$fresh/lex/postings", "overwrite")
      val lexQs = qs.zipWithIndex.map { case (q, i) => (i.toLong, terms(q)) }
      val p1 = postings()
      val p2 = spark.table(t2)
      same("bm25", BM25.searchIndexedMulti(spark, bm25Live, p1, BM25.statsFromPostings(p1), lexQs, K),
        BM25.searchIndexedMulti(spark, Queries.postingsLivePath(spark, t2), p2,
          BM25.statsFromPostings(p2), lexQs, K))
    }
  }

  // =====================================================================
  // the run
  // =====================================================================

  /** Runs `f` as one attempted operation of `kind`; an exception counts
    * it failed and is reported on stderr. */
  def op[T](kind: String)(f: => T): Option[T] = {
    out.attempted(kind) += 1
    try Some(f)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        out.failed(kind) += 1
        System.err.println(s"OPERATION FAILED ($kind): $e")
        e.printStackTrace()
        None
    }
  }

  def round(): Unit =
    if (!mix.mutates) {
      val q = nextQuery()
      val total = Modes.map { m => serve(m, q); lastServeMs }.sum
      if (timing) roundMs += total
    } else {
      def after(): Unit = {
        serve(AfterModes(afterServes % AfterModes.size), nextQuery())
        afterServes += 1
      }
      val b = append(); after()
      replay(b)
      delete(); after()
      maintain()
    }
  var afterServes = 0
  var lastServeMs = 0.0
  /** serve-interactive: each round's summed request latencies. */
  val roundMs = mutable.ArrayBuffer.empty[Double]

  def execute(): String = {
    val setupMs = setup()
    // timed loop: whole rounds until the time is up
    tr.phase = "timed"
    val gc0 = gcMs()
    timing = true
    checking = true
    val t0 = nowMs()
    var rounds = 0
    while (rounds < mix.minRounds || nowMs() - t0 < a.seconds * 1000) { round(); rounds += 1 }
    val loopMs = nowMs() - t0
    timing = false
    val gc = gcMs() - gc0
    val heapAfterGc = heapAfterGcMb()
    tr.phase = "checks"
    val c0 = nowMs()
    measureRecall()
    crossCheckRankMetrics()
    if (a.trace && mix.mutates) rebuildCheck()
    val checksMs = nowMs() - c0
    val idxBytes = FileCount.bytes(indexRoots)
    val rss = peakRssMb()
    System.err.println(f"perfbench: ${a.workload} seed ${a.seed}: $rounds rounds in ${loopMs / 1000}%.1f s, " +
      s"${serveByMode.values.map(_.size).sum} serves, ${appendMs.size} appends, ${deleteMs.size} deletes, " +
      f"setup ${setupMs / 1000}%.2f s, session $sessionS%.2f s, final checks ${checksMs / 1000}%.1f s; " +
      "median ms by mode: " +
      serveByMode.map { case (m, xs) => f"$m ${Stats.median(xs.toSeq)}%.0f" }.mkString(", ") +
      (if (mix.mutates) f"; append ${Stats.median(appendMs.toSeq)}%.0f, delete ${Stats.median(deleteMs.toSeq)}%.0f" else ""))

    val attempted = out.attempted.values.sum
    val failed = out.failed.values.sum
    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) {
        val modeMedians = serveByMode.values.map(xs => Stats.median(xs.toSeq)).toSeq
        val request =
          if (mix.mutates) Stats.geomean(Seq(Stats.median(appendMs.toSeq), Stats.median(deleteMs.toSeq)))
          else Stats.median(roundMs.toSeq)
        require(recallN > 0, "no recall samples")
        Seq(
          "setup_s" -> (setupMs / 1000, "s"),
          "serve_ms" -> (Stats.geomean(modeMedians), "ms"),
          "request_ms" -> (request, "ms"),
          "recall_at_10" -> (recallSum / recallN, "fraction"),
          "index_bytes_per_doc" -> (idxBytes.toDouble / live.size, "bytes"),
          "peak_rss_mb" -> (rss, "MB"))
      } else {
        tr.drain(spark)
        val counts = tr.listener.get.snapshot()
        tr.writeJsonl(a.spans, counts)
        perLayer(counts) ++ Seq("jvm.gc_ms" -> (gc, "ms"), "jvm.heap_after_gc_mb" -> (heapAfterGc, "MB"))
      }
    val correct = out.mismatches.isEmpty
    if (!correct) System.err.println(s"perfbench: ${out.mismatches.size} checker mismatches")
    out.failed.filter(_._2 > 0).foreach { case (k, v) =>
      System.err.println(s"perfbench: $v of ${out.attempted(k)} $k operations failed") }
    val metricsJson = metrics.map { case (k, (v, u)) =>
      Json.str(k) + ":" + Json.obj(Seq("value" -> v, "unit" -> u)) }.mkString("{", ",", "}")
    Json.obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed))
      .dropRight(1) + ",\"metrics\":" + metricsJson + "}"
  }

  /** Per-layer figures: for each step, medians over its calls in the
    * timed loop (set-up steps: over the set-up repetitions). */
  def perLayer(counts: Map[String, Counts]): Seq[(String, (Double, String))] = {
    val children = tr.spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val byName = tr.spans.groupBy(_.name)
    PerLayer.steps.flatMap { case (step, extra) =>
      val ss = byName.getOrElse(step, Nil).filter { s =>
        val ph = tr.phaseOf(s.id)
        if (PerLayer.setupSteps.contains(step)) ph == "setup" else ph == "timed"
      }.toSeq
      val cs = ss.map(s => tr.subtreeCounts(counts, children, s))
      def med(f: Int => Double): Double = if (ss.isEmpty) 0.0 else Stats.median(ss.indices.map(f))
      Seq(
        s"$step.ms" -> (med(i => ss(i).endMs - ss(i).startMs), "ms"),
        s"$step.jobs" -> (med(i => cs(i).jobs.toDouble), "count"),
        s"$step.driver_gap_ms" -> (med(i => tr.gapMs(ss(i), cs(i).jobWindows.toSeq)), "ms")) ++
        extra.map {
          case "input_bytes" => s"$step.input_bytes" -> (med(i => cs(i).inputBytes.toDouble), "bytes")
          case "files_written" => s"$step.files_written" -> (med(i => ss(i).filesWritten.toDouble), "count")
        }
    }
  }

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }

  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum / (1 << 20)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}

object PerLayer {
  val setupSteps = Set("ingest.load", "embed.corpus", "search.ivf.build", "search.sq8.build",
    "search.graph.build", "lexical.bm25.build", "dedup.register_build")
  /** (step, extra counters) in report order. */
  val steps: Seq[(String, Seq[String])] =
    Seq("search.exact.serve", "search.dp.serve", "search.ivf.serve", "search.sq8.serve",
      "search.graph.serve", "lexical.bm25.serve", "hybrid.rrf", "hybrid.mmr")
      .map(_ -> Seq("input_bytes")) ++
    Seq("embed.query", "ingest.load", "embed.corpus", "search.ivf.build", "search.sq8.build",
      "search.graph.build", "lexical.bm25.build", "dedup.register_build", "dedup.vet",
      "search.ivf.delete", "lexical.bm25.delete", "dedup.register_delete")
      .map(_ -> Seq.empty[String]) ++
    Seq("search.ivf.append", "lexical.bm25.append", "dedup.register_append", "search.ivf.compact",
      "lexical.bm25.compact", "dedup.register_compact", "streaming.replay")
      .map(_ -> Seq("files_written"))
}
