package storebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{PostingsStore, TextAnalysis, VectorStore}

/**
 * `doc_serve`: a postings store and a vector store over one generated
 * corpus (Zipf vocabulary, clustered embeddings), served one request at
 * a time with appends, takedowns and compactions between serves. It
 * never touches the z-order code: the time goes to the store layer
 * lifecycle and the per-serve document-frequency aggregate. Search
 * queries are selective on purpose: three in four name tail terms.
 */
final class DocServe(spark: SparkSession, seed: Long, t: Tracer) extends Workload {
  import DocServe._

  // the same order for every seed: the seed changes inputs, not structure
  private val kinds = IndexedSeq("search", "ann", "append", "search_head", "delete",
    "asof", "compact", "search", "ann", "append", "search", "ann")
  val cycle: Int = kinds.size
  val cycleSeconds = 14.0
  private val zipf = new Gen.Zipf(Vocab, 1.05)
  private val centers = {
    val r = Gen.rng(seed, "centers")
    Array.fill(Clusters)(Array.fill(Dim)(r.nextInt(201).toLong - 100))
  }

  private var dir: String = _
  private val docs = mutable.LinkedHashMap[Long, Doc]()
  private var opId = 0L        // last operation id handed out (build = 0)
  private var compactOp = 0L   // operation id at the last compaction
  private var nextId = 0L
  private var recallSum = 0.0
  private var recallN = 0L

  private def postingsPath = s"$dir/postings"
  private def vectorsPath = s"$dir/vectors"

  /** `n` generated documents with ids from `first`, each with its text
    * and embedding. */
  def corpus(stream: String, first: Long, n: Int): Seq[Doc] = {
    val r = Gen.rng(seed, stream)
    (0 until n).map { j =>
      val len = 20 + r.nextInt(41)
      val words = Seq.fill(len)(Gen.word(zipf.sample(r)))
      val c = centers(r.nextInt(Clusters))
      Doc(first + j, words.mkString(" "), words.groupBy(identity).map { case (w, ws) => w -> ws.size },
        len.toLong, c.map(_ + r.nextInt(81) - 40), 0L)
    }
  }

  def setup(d: String): Unit = {
    dir = d
    docs.clear()
    opId = 0L; compactOp = 0L; recallSum = 0.0; recallN = 0L
    val base = corpus("base", 1L, BaseDocs)
    base.foreach(x => docs(x.id) = x)
    nextId = BaseDocs + 1L
    PostingsStore.build(textFrame(base), postingsPath)
    VectorStore.build(vectorFrame(base), vectorsPath, nCentroids = Centroids)
  }

  def storeDirs: Seq[String] = Seq(postingsPath, vectorsPath)
  private def liveDocs: Int = docs.valuesIterator.count(_.live)
  def liveRows: Long = liveDocs.toLong
  override def details: Seq[(String, Any)] =
    Seq("recall_at_10" -> (if (recallN == 0) 0.0 else recallSum / recallN), "ann_requests" -> recallN)

  def op(i: Int): Op = {
    val r = Gen.rng(seed, s"request-$i")
    kinds(i % cycle) match {
      case "search" => search("search", i, tailQuery(r))
      case "search_head" => search("search_head", i, headQuery(r))
      // one mutation back, never before the last compaction: the newest
      // layer is hidden and the older ones are read. A bound drawn at
      // random since the compaction would make the cost vary 2.5x with it
      case "asof" => asof(i, tailQuery(r), math.max(compactOp, opId - 1))
      case "ann" => ann(i, r)
      case "append" => append(i)
      case "delete" => delete(r)
      case "compact" => compact()
    }
  }

  /** A selective query: the rarest term of a live document (df of a few)
    * and a tail term. */
  private def tailQuery(r: java.util.SplittableRandom): String = {
    val live = visible(Long.MaxValue).drop(r.nextInt(liveDocs)).next()
    val rare = live.tf.keys.toSeq.sorted.maxBy(w => rankOf(w))
    s"$rare ${Gen.word(2000 + r.nextInt(Vocab - 2000))}"
  }

  /** A broad query: two head terms. */
  private def headQuery(r: java.util.SplittableRandom): String =
    s"${Gen.word(5 + r.nextInt(55))} ${Gen.word(5 + r.nextInt(55))}"

  private def search(kind: String, i: Int, qtext: String): Op =
    Op(kind, read = true, () => {
      val res = t.span("postings_store.open")(
        PostingsStore.bm25DocTopK(spark, postingsPath, queryFrame(i, qtext), K))
      val got = serve(res)
      () => {
        traceLayers()
        compare(s"search '$qtext'", got, bm25(qtext, Long.MaxValue))
      }
    }, Some("postings_store.rows_read_per_query"))

  private def asof(i: Int, qtext: String, bound: Long): Op =
    Op("asof", read = true, () => {
      val res = t.span("postings_store.open")(
        PostingsStore.bm25DocTopKAsOf(spark, postingsPath, queryFrame(i, qtext), K, bound))
      val got = serve(res)
      () => {
        traceLayers()
        compare(s"asof $bound '$qtext'", got, bm25(qtext, bound))
      }
    }, Some("postings_store.rows_read_per_query"))

  private def serve(res: DataFrame): Seq[Hit] = {
    val q = t.plan(res.orderBy("query_id", "rank").select("doc_id", "n_terms", "score_e6"))
    t.span("postings_store.exec")(q.collect().map(hit).toSeq)
  }

  private def ann(i: Int, r: java.util.SplittableRandom): Op = {
    val qv = centers(r.nextInt(Clusters)).map(_ + r.nextInt(61) - 30)
    Op("ann", read = true, () => {
      import spark.implicits._
      val frame = Seq((-(i + 1L), qv.toSeq)).toDF("vec_id", "v")
      val res = t.span("vector_store.open")(VectorStore.topK(spark, vectorsPath, frame, K, NProbe))
      t.plan(res)
      val got = t.span("vector_store.exec")(
        res.orderBy("rank").select("nid", "dot").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq)
      () => {
        val live = visible(Long.MaxValue).map(d => d.id -> d).toMap
        val exact = live.valuesIterator.map(d => (dot(qv, d.vec), d.id)).toSeq
          .sortBy { case (s, id) => (-s, id) }.take(K)
        val wrong = got.find { case (id, s) => !live.get(id).exists(d => dot(qv, d.vec) == s) }
        val ordered = got.map { case (id, s) => (-s, id) } == got.map { case (id, s) => (-s, id) }.sorted
        if (wrong.isDefined) Left(s"ann: ${wrong.get} is not a live vector with that dot")
        else if (!ordered) Left(s"ann: answer not in (dot desc, id) order: $got")
        else {
          val rc = got.map(_._1).toSet.intersect(exact.map(_._2).toSet).size.toDouble /
            math.max(1, exact.size)
          recallSum += rc; recallN += 1
          t.observe("vector_store.recall_at_10", rc)
          Right(got.size.toLong)
        }
      }
    }, Some("vector_store.rows_read_per_query"))
  }

  private def append(i: Int): Op = {
    opId += 1
    val op = opId
    val batch = corpus(s"batch-$i", nextId, 10).map(_.copy(opAdd = op))
    nextId += batch.size
    Op("append", read = false, () => {
      t.span("postings_store.append")(PostingsStore.appendBatch(textFrame(batch), postingsPath, op))
      t.span("vector_store.append")(VectorStore.appendBatch(vectorFrame(batch), vectorsPath, op))
      () => {
        batch.foreach(x => docs(x.id) = x)
        Right(batch.size.toLong)
      }
    })
  }

  private def delete(r: java.util.SplittableRandom): Op = {
    opId += 1
    val op = opId
    val live = docs.valuesIterator.filter(_.live).map(_.id).toIndexedSeq
    val ids = Seq.fill(3)(live(r.nextInt(live.size))).distinct
    Op("delete", read = false, () => {
      import spark.implicits._
      t.span("postings_store.delete")(
        PostingsStore.deleteDocs(spark, postingsPath, ids.toDF("doc_id"), op))
      t.span("vector_store.delete")(VectorStore.deleteVecs(spark, vectorsPath, ids.toDF("vec_id"), op))
      () => {
        ids.foreach(id => docs(id).opDel = op)
        Right(ids.size.toLong)
      }
    })
  }

  private def compact(): Op =
    Op("compact", read = false, () => {
      t.span("postings_store.compact")(PostingsStore.compact(spark, postingsPath))
      t.span("vector_store.compact")(VectorStore.compact(spark, vectorsPath))
      () => {
        docs.filterInPlace { case (_, d) => d.live }
        compactOp = opId
        Right(docs.size.toLong)
      }
    })

  /** Live documents as of operation `bound` (every one for MaxValue). */
  private def visible(bound: Long): Iterator[Doc] =
    docs.valuesIterator.filter(d => d.opAdd <= bound && (d.live || d.opDel > bound))

  /** The engine's BM25 document ranking, recomputed over the model. */
  def bm25(qtext: String, bound: Long): Seq[Hit] =
    DocServe.bm25(visible(bound).toSeq, qtext, K)

  private def compare(what: String, got: Seq[Hit], want: Seq[Hit]): Either[String, Long] =
    if (got == want) Right(got.size.toLong) else Left(s"$what: got $got, want $want")

  private def traceLayers(): Unit = t.whenTraced {
    def count(tree: String, prefix: String) =
      Option(new File(s"$postingsPath/$tree").list()).getOrElse(Array.empty[String])
        .count(n => n.startsWith(prefix) && n.drop(1).forall(_.isDigit))
    t.observe("postings_store.layers", count("postings", "b") + count("deletes", "d"))
  }

  /** From-scratch check: `TextAnalysis.bm25DocTopK` over the model's live
    * corpus must agree with the model ranking every search and as-of
    * answer was checked against. */
  override def finish(): Seq[String] = {
    val r = Gen.rng(seed, "final-check")
    val qs = (0 until 4).map(j => (j.toLong, if (j == 0) headQuery(r) else tailQuery(r)))
    import spark.implicits._
    val res = TextAnalysis.bm25DocTopK(qs.toDF("query_id", "qtext"), textFrame(visible(Long.MaxValue).toSeq), K)
      .orderBy("query_id", "rank").select("query_id", "doc_id", "n_terms", "score_e6").collect()
    qs.flatMap { case (qid, qtext) =>
      val got = res.filter(_.getLong(0) == qid).map(x => Hit(x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
      val want = bm25(qtext, Long.MaxValue)
      if (got == want) None else Some(s"from-scratch bm25 '$qtext': got $got, want $want")
    }
  }

  private def textFrame(ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ds.map(d => (d.id, d.text)), spark.sparkContext.defaultParallelism)
      .toDF("doc_id", "text")
  }

  private def vectorFrame(ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ds.map(d => (d.id, d.vec.toSeq)), spark.sparkContext.defaultParallelism)
      .toDF("vec_id", "v")
  }

  private def queryFrame(i: Int, qtext: String): DataFrame = {
    import spark.implicits._
    Seq((i.toLong, qtext)).toDF("query_id", "qtext")
  }
}

object DocServe {
  /** Documents in the corpus the stores are built from. */
  val BaseDocs = 2000
  val K = 10
  val Vocab = 20000
  val Dim = 16
  val Clusters = 48
  val Centroids = 32
  val NProbe = 2

  final case class Doc(id: Long, text: String, tf: Map[String, Int], dl: Long,
                       vec: Array[Long], opAdd: Long) {
    var opDel: Long = Long.MaxValue
    def live: Boolean = opDel == Long.MaxValue
  }

  final case class Hit(docId: Long, nTerms: Long, scoreE6: Long)

  def hit(r: Row): Hit = Hit(r.getLong(0), r.getLong(1), r.getLong(2))

  private val rankCache = mutable.Map[String, Int]()
  /** The Zipf rank a vocabulary word was generated from. */
  def rankOf(w: String): Int = rankCache.getOrElseUpdate(w, {
    val digits = w.dropRight(2)
    digits.reverse.foldLeft(0)((acc, c) => acc * 26 + (c - 'a'))
  })

  def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /**
   * BM25 document top-k in the engine's exact integer arithmetic
   * (`TextAnalysis.bm25DocTopK`): idf2 = floor(log2(N div df)) for terms
   * with N div df >= 2; per-term score
   * idf2 * (tf*22000*1e6) div (tf*1e4 + (12000*(2500 + (7500*dl) div avgdl)) div 1e4);
   * documents ranked by summed score desc, then doc id.
   */
  def bm25(live: Seq[Doc], qtext: String, k: Int): Seq[Hit] = {
    val n = live.size.toLong
    if (n == 0) return Nil
    val avgdl = live.map(_.dl).sum / n
    val terms = qtext.trim.toLowerCase.split("\\s+").distinct.toSeq
    val acc = mutable.Map[Long, (Long, Long)]()
    terms.foreach { term =>
      val holders = live.filter(_.tf.contains(term))
      val df = holders.size.toLong
      if (df > 0 && n / df >= 2) {
        val idf2 = 63 - java.lang.Long.numberOfLeadingZeros(n / df)
        holders.foreach { d =>
          val tf = d.tf(term).toLong
          val score = idf2 * ((tf * 22000L * 1000000L) /
            (tf * 10000L + (12000L * (2500L + (7500L * d.dl) / avgdl)) / 10000L))
          if (score > 0) {
            val (c, s) = acc.getOrElse(d.id, (0L, 0L))
            acc(d.id) = (c + 1, s + score)
          }
        }
      }
    }
    acc.toSeq.map { case (id, (c, s)) => Hit(id, c, s) }
      .sortBy(h => (-h.scoreE6, h.docId, h.nTerms)).take(k)
  }
}
