package graftbench

import graft.core.{CommitLog, GraftTable, TableConfig, TableServices}
import graft.operators.{Bpe, Curation, Dedup}
import graft.sql.{GraftCatalog, GraftSql}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One generated corpus shard and what the generator knows about it. */
final case class Shard(docs: Seq[(Long, String)], exactKeep: Set[Long],
    nearPairs: Seq[(Long, Long)], nearJaccard: Seq[Double], contaminated: Set[Long],
    embedding: Map[Long, Array[Double]])

/** Seeded synthetic corpus over a Zipf(1.0) vocabulary whose top ranks
  * are the stopwords the Gopher rules require. A shard holds, besides
  * plain documents: 8% too short to pass the quality rules, 5% exact
  * copies of other documents, 5% near-duplicates (one or two words
  * replaced, Jaccard of word 5-shingles recorded) and 3% documents
  * carrying a 25-word span of a held-out eval document. Every document
  * has an embedding near one of 32 seeded centres; copies and
  * near-duplicates sit next to their source. */
final class CorpusGen(seed: Long) {
  val Vocab = 20000
  val Dim = 16
  private val centres = {
    val r = new java.util.SplittableRandom(seed ^ 0xc0ffeeL)
    Array.fill(32, Dim)(r.nextDouble() * 2 - 1)
  }
  private def jitter(r: java.util.SplittableRandom, c: Array[Double], noise: Double) =
    c.map(x => x + noise * (r.nextDouble() * 2 - 1))
  private val stop = Array("the", "of", "and", "to", "be", "that", "have", "with")
  private val words = Array.tabulate(Vocab)(i => if (i < stop.length) stop(i) else Zipf.word(i))
  private val zipf = new Zipf(Vocab, 1.0)

  private def text(rng: java.util.SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(words(zipf.sample(rng)))

  def evalDocs(n: Int): Seq[String] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eed5eedL)
    (0 until n).map(_ => text(rng, 80).mkString(" "))
  }

  def shard(index: Int, n: Int, eval: Seq[String]): Shard = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + index)
    val ids = {
      val a = Array.tabulate(n)(i => index.toLong * 10000000L + i)
      for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val nShort = n * 8 / 100
    val nExact = n * 5 / 100
    val nNear = n * 5 / 100
    val nCont = n * 3 / 100
    val nPlain = n - nShort - nExact - nNear - nCont
    var k = 0
    def id(): Long = { k += 1; ids(k - 1) }
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val plain = (0 until nPlain).map(_ => id() -> text(rng, 60 + rng.nextInt(61)))
    docs ++= plain.map { case (i, ws) => i -> ws.mkString(" ") }
    (0 until nShort).foreach(_ => docs += id() -> text(rng, 15 + rng.nextInt(16)).mkString(" "))
    // disjoint thirds of the plain documents seed the three plantings
    val third = nPlain / 3
    val copies = (0 until nExact).map { j => val (src, ws) = plain(j % third); (src, id(), ws.mkString(" ")) }
    docs ++= copies.map { case (_, i, t) => i -> t }
    val near = (0 until nNear).map { j =>
      val (src, ws) = plain(third + j % third)
      val v = ws.clone()
      (0 until 1 + rng.nextInt(2)).foreach { _ =>
        val at = rng.nextInt(v.length)
        var w = v(at)
        while (w == v(at)) w = words(8 + rng.nextInt(Vocab - 8))
        v(at) = w
      }
      (src, id(), v, jaccard(ws, v))
    }
    docs ++= near.map { case (_, i, v, _) => i -> v.mkString(" ") }
    val cont = (0 until nCont).map { j =>
      val (_, ws) = plain(2 * third + j % third)
      val e = eval(rng.nextInt(eval.size)).split(" ")
      val at = rng.nextInt(e.length - 25)
      val cut = rng.nextInt(ws.length)
      id() -> (ws.take(cut) ++ e.slice(at, at + 25) ++ ws.drop(cut)).mkString(" ")
    }
    docs ++= cont
    val emb = mutable.LongMap.empty[Array[Double]]
    docs.foreach { case (i, _) => emb(i) = jitter(rng, centres(rng.nextInt(centres.length)), 0.5) }
    copies.foreach { case (src, i, _) => emb(i) = jitter(rng, emb(src), 0.01) }
    near.foreach { case (src, i, _, _) => emb(i) = jitter(rng, emb(src), 0.01) }
    // exact-dedup truth among documents that pass the quality rules:
    // the smallest id of every distinct text
    val short = docs.slice(nPlain, nPlain + nShort).map(_._1).toSet
    val exactKeep = docs.filterNot(d => short.contains(d._1)).groupBy(_._2)
      .values.map(_.map(_._1).min).toSet
    Shard(docs.toSeq, exactKeep, near.map(x => (x._1, x._2)), near.map(_._4), cont.map(_._1).toSet,
      emb.toMap)
  }

  /** Jaccard of the distinct word 5-shingles, as the dedup operators
    * define them. */
  private def jaccard(a: Array[String], b: Array[String]): Double = {
    def sh(x: Array[String]) = x.sliding(5).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }
}

/** `curation_pipeline`: each period runs the staged pipeline over a
  * fresh corpus shard, then searches the curated table. Every stage
  * reads the previous stage's parquet and writes its own, so a stage's
  * span covers all of its work; the last stage appends the curated
  * documents with one `bulkInsert`, and the table-service vector index
  * is refreshed. The `CALL vector_search` reads that follow must find
  * documents of the new commit. An untimed warm-up pass over a smaller
  * shard makes the first commit and builds the index, so every timed
  * pass is a warm one that appends to the table and refreshes the
  * index incrementally. */
final class CurationPipeline(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._

  val ShardDocs = 1500
  val WarmupDocs = 200
  val EvalDocs = 200
  val Merges = 32
  val Searches = 2
  val NLists = 8
  val NProbe = 2
  val K = 10

  private var dir: Path = _
  private var gen: CorpusGen = _
  private var evalPath: String = _
  private var merges: Seq[(String, String)] = Nil
  private var curated: GraftTable = _
  private var gsql: GraftSql = _
  private var name: String = _
  private var setups = 0
  private var shards = 0
  private var ops = 0
  private var eval: Seq[String] = Nil
  private var rng: java.util.SplittableRandom = _
  // the curated table's documents and their embeddings
  private val model = mutable.LongMap.empty[Array[Double]]
  // the documents the latest pass inserted
  private var latest: Array[Long] = Array.empty
  private val pairsOut = mutable.ArrayBuffer.empty[Long]
  private val removed = mutable.ArrayBuffer.empty[Long]
  private val dupRecall = mutable.ArrayBuffer.empty[Double]
  private val jaccards = mutable.ArrayBuffer.empty[Double]
  private val annRecall = mutable.ArrayBuffer.empty[Double]

  // `embedding` admits null elements, as in parquet written by pyarrow.
  // This also keeps the workload off a known defect: with non-null
  // elements (what createDataFrame gives a Seq[Double]) the index
  // refresh after a second commit fails in GraftTable.readCdc.
  private val inputSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(DoubleType, containsNull = true))))

  def period: Int = 1 + Searches

  def setup(d: Path): Unit = {
    dir = d
    inputs.reset()
    gen = new CorpusGen(seed)
    rng = new java.util.SplittableRandom(seed ^ 0x5ea6c4L)
    shards = 0; ops = 0
    model.clear(); latest = Array.empty
    clearStats()
    eval = gen.evalDocs(EvalDocs)
    eval.foreach(inputs.add)
    evalPath = d.resolve("eval").toString
    eval.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(evalPath)
    // the tokenizer is trained once, on the eval set; the timed stage
    // is the encode
    merges = Bpe.mergeStats(spark.read.parquet(evalPath), "text", Merges)
      .orderBy("merge_rank").select("left_sym", "right_sym").as[(String, String)].collect().toSeq
    val catalog = new GraftCatalog(spark, spark.conf.get("spark.sql.catalog.gcat.warehouse"))
    name = s"curated_$setups"
    setups += 1
    curated = catalog.createTable(TableConfig(name = name, keyField = "doc_id",
      orderingField = "n_tokens", numBuckets = 2))
    gsql = new GraftSql(catalog)
    ()
  }

  private def clearStats(): Unit = {
    pairsOut.clear(); removed.clear(); dupRecall.clear(); jaccards.clear(); annRecall.clear()
  }

  /** One pass over a smaller shard and a search, untimed: it loads
    * and compiles the code of every stage, makes the curated table's
    * first commit and builds the vector index. */
  def warmup(): Unit = {
    Seq(() => pass(WarmupDocs), () => searchOp()).foreach { make => val o = make(); o.run(); o.check() }
    clearStats()
  }

  def next(): Op = {
    ops += 1
    if ((ops - 1) % period == 0) pass(ShardDocs) else searchOp()
  }

  private def pass(n: Int): Op = {
    shards += 1
    val s = gen.shard(shards, n, eval)
    s.docs.foreach { case (i, t) => inputs.add(s"$i $t ${s.embedding(i).mkString(",")}") }
    val base = dir.resolve(s"shard-$shards")
    def at(stage: String) = base.resolve(stage).toString
    spark.createDataFrame(java.util.Arrays.asList(s.docs.map { case (i, t) =>
        Row(i, t, s.embedding(i).toSeq) }: _*), inputSchema)
      .write.parquet(at("input"))
    def read(stage: String): DataFrame = spark.read.parquet(at(stage))
    def write(df: DataFrame, stage: String): Unit = df.write.parquet(at(stage))

    new Op {
      val kind = "op"
      val units = n.toLong
      var traced = false
      def run(): Unit = {
        traced = tr.enabled
        tr.span("operators.quality_filter") {
          val docs = read("input")
          val keep = Curation.gopherRules(docs, "doc_id", "text").filter(col("keep")).select("doc_id")
          write(docs.join(keep, Seq("doc_id"), "left_semi"), "quality")
        }
        tr.span("operators.exact_dedup") {
          val docs = read("quality")
          val keep = Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
          write(docs.join(keep, Seq("doc_id"), "left_semi"), "exact")
        }
        tr.span("operators.minhash_lsh") {
          write(Dedup.minhashLsh(read("exact"), "doc_id", "text"), "pairs")
        }
        tr.span("operators.keep_best") {
          val docs = read("exact")
          val keep = Dedup.keepBest(docs, "doc_id", "text", read("pairs"))
            .select(col("keep_id").as("doc_id"))
          write(docs.join(keep, Seq("doc_id"), "left_semi"), "best")
        }
        tr.span("operators.decontaminate") {
          write(Curation.bloomDecontaminate(read("best"), spark.read.parquet(evalPath),
            "doc_id", "text"), "clean")
        }
        tr.span("operators.tokenize") {
          val docs = read("clean")
          val counts = Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
          write(docs.join(counts, Seq("doc_id"), "left").na.fill(0L, Seq("n_tokens")), "tokens")
        }
        tr.span("core.bulk_insert") { curated.bulkInsert(read("tokens")) }
        tr.span("core.vector_index_refresh") {
          TableServices.buildVectorIndex(curated, "doc_id", "embedding", nLists = NLists)
        }
        ()
      }

      /** Exact-dedup survivors equal the generator's truth, no
        * contaminated document survives decontamination, and the
        * bulk insert wrote every tokenized document.
        *
        * `keepBest` keeps one document of each connected component of
        * the LSH pairs, so a planted pair was merged exactly when not
        * both of its documents survive it. The components themselves
        * are computed inside `keepBest`; a traced pass computes them
        * once more here, outside the timed pass, as the
        * `operators.components` span. */
      def check(): Boolean = {
        if (traced) tr.tracing(true) {
          tr.span("operators.components") { write(Dedup.connectedComponents(read("pairs")), "components") }
        }
        val exact = read("exact").select("doc_id").as[Long].collect().toSet
        val best = read("best").select("doc_id").as[Long].collect().toSet
        val clean = read("clean").select("doc_id").as[Long].collect().toSet
        val tokens = read("tokens").select("doc_id").as[Long].collect()
        val planted = s.nearPairs.filter { case (a, b) => exact(a) && exact(b) }
        val merged = planted.count { case (a, b) => !(best(a) && best(b)) }
        pairsOut += read("pairs").count()
        removed += read("quality").count() - exact.size
        dupRecall += merged.toDouble / planted.size
        jaccards ++= s.nearJaccard
        tokens.foreach(i => model(i) = s.embedding(i))
        latest = tokens
        // asked of a CommitLog of its own, as in CdcFreshReads.ownLog
        val inserted = new CommitLog(curated.root).commits().last.added.map(_.rows).sum
        exact == s.exactKeep && (clean intersect s.contaminated).isEmpty &&
          inserted == tokens.length
      }
    }
  }

  /** One `CALL vector_search` whose query is the embedding of a random
    * document of the latest pass: that document must be among the
    * neighbours, so an index or snapshot that misses the latest commit
    * fails the check. The index assigns a vector and probes a query by
    * the same nearest-centroid rule, so the document's own list is
    * always probed. Every neighbour must be a document of the curated
    * table; recall is against brute force over all of them. */
  private def searchOp(): Op = new Op {
    val kind = "read"
    val units = 0L
    val target = latest(rng.nextInt(latest.length))
    val q = model(target)
    var ids: Array[Long] = _
    def run(): Unit = ids = tr.span("sql.vector_search") {
      gsql.sql(s"CALL vector_search(table => '$name', id_col => 'doc_id', vec_col => 'embedding', " +
        s"k => $K, n_lists => $NLists, n_probe => $NProbe, query_vec => '[${q.mkString(", ")}]')")
        .select("neighbor_id").as[Long].collect()
    }
    def check(): Boolean = {
      annRecall += ids.count(bruteForce(q).contains).toDouble / K
      ids.length == K && ids.distinct.length == K && ids.contains(target) &&
        ids.forall(model.contains)
    }
  }

  /** Exact top-k by cosine similarity over the curated documents. */
  private def bruteForce(q: Array[Double]): Set[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    model.iterator.map { case (id, v) =>
      var dot = 0.0; var nn = 0.0; var i = 0
      while (i < v.length) { dot += q(i) * v(i); nn += v(i) * v(i); i += 1 }
      (id, dot / (qn * math.sqrt(nn)))
    }.toSeq.sortBy(-_._2).take(K).map(_._1).toSet
  }

  def finish(): (Int, Int) = (0, 0)

  private def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def report(r: LoopResult): Seq[Metric] = Seq(
    Metric("curation_docs_per_s", r.untraced.map(_.units).sum / r.untraced.map(_.seconds).sum, "docs/s"),
    Metric("near_dup_recall", mean(dupRecall), "ratio"),
    Metric("planted_near_dup_jaccard", mean(jaccards), "ratio"),
    Metric("ann_recall_at_10", mean(annRecall), "ratio"),
    Metric("shard_docs", ShardDocs.toDouble, "docs"),
    Metric("curated_mb", curated.log.liveFiles().map(_.bytes).sum / 1e6, "MB"))

  def layerCounts(r: LoopResult): Map[String, Double] = Map(
    "operators.minhash_lsh.pairs_out" -> mean(pairsOut.map(_.toDouble)),
    "operators.minhash_lsh.near_dup_recall" -> mean(dupRecall),
    "operators.exact_dedup.removed" -> mean(removed.map(_.toDouble)),
    "sql.vector_search.recall_at_10" -> mean(annRecall))
}
