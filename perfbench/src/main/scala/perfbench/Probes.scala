package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.ja.{JaMode, JaTokenizer}

/** Per-layer probes of the traced run: direct single-thread calls into the
  * `ja` kernels, and each `graft.functions` kernel projected over a cached
  * input into the noop sink. */
object Probes {

  private def secs[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }

  /** Up to `cap` characters of whole documents, in corpus order. */
  private def sample(texts: Seq[String], cap: Int): Seq[String] = {
    var n = 0
    texts.takeWhile { t => n += t.length; n - t.length < cap }
  }

  def ja(spark: SparkSession, data: String, corpusDir: String): Map[String, Any] = {
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).toSeq
    val ascii = spark.read.parquet(s"$data/documents.parquet").orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).toSeq
    val ja = sample(corpus, 300000)
    val en = sample(ascii, 300000)
    // one untimed pass over the sample (the JIT), then the median of three
    def rate(name: String, tok: JaTokenizer, texts: Seq[String]): (Double, Long) =
      Harness.timed(0, "ja", name) { _ =>
        def pass() = secs(texts.map(t => tok.tokenize(t).length.toLong).sum)
        val (tokens, _) = pass()
        val s = Seq.fill(3)(pass()._2).sorted.apply(1)
        (texts.map(_.length.toLong).sum / s, tokens)
      }._1
    val (normal, normalTokens) = rate("normal", new JaTokenizer(), ja)
    val (search, _) = rate("search", new JaTokenizer(JaMode.Search), ja)
    val (extended, _) = rate("extended", new JaTokenizer(JaMode.Extended), ja)
    val (asciiRate, _) = rate("ascii", new JaTokenizer(), en)
    Map(
      "ja.normal.chars_per_s" -> normal,
      "ja.search.chars_per_s" -> search,
      "ja.extended.chars_per_s" -> extended,
      "ja.ascii.chars_per_s" -> asciiRate,
      "ja.tokens_per_char" -> normalTokens.toDouble / ja.map(_.length).sum)
  }

  /** (metric name, kernel class, input, projected column). */
  private def kernels(docs: DataFrame, jaDocs: DataFrame, vecs: DataFrame)
      : Seq[(String, Class[_], DataFrame, Column)] = {
    import graft.{functions => g}
    val text = col("text")
    val pieces = Seq("a", "e", "t", "th", "the", "an", "in", "er", "s", "join", "scan")
    Seq(
      ("tokenize_ja_neologd", classOf[graft.expr.TokenizeJaNeologd], jaDocs,
        g.tokenize_ja_neologd(text)),
      ("token_profile", classOf[graft.expr.TokenProfile], docs,
        g.token_profile(text, Seq("a", "the"))),
      ("word_repetition_stats", classOf[graft.expr.WordRepetitionStats], docs,
        g.word_repetition_stats(text)),
      ("simhash64", classOf[graft.expr.SimHash64], docs, g.simhash64(text, 30)),
      ("shingle_hashes", classOf[graft.expr.ShingleHashes], docs, g.shingle_hashes(text, 5)),
      ("minhash_bands", classOf[graft.expr.MinhashBands], docs,
        g.minhash_bands(text, 5, (0 until 32).map(graft.operators.Dedup.hashA),
          (0 until 32).map(graft.operators.Dedup.hashB), 8)),
      ("ac_match", classOf[graft.expr.AcMatch], docs,
        g.ac_match(text, Array("join", "scan", "spark", "big data", "hash join", "dup"))),
      ("bpe_segment", classOf[graft.expr.BpeSegment], docs,
        g.bpe_segment(text, Array(Array("t", "h"), Array("th", "e"), Array("a", "n"),
          Array("i", "n"), Array("e", "r"), Array("s", "c"), Array("sc", "an")))),
      ("unigram_segment", classOf[graft.expr.UnigramSegment], docs,
        g.unigram_segment(text, pieces, pieces.map(_ => 1.0 / pieces.size), 1e-6)),
      ("cosine_sim", classOf[graft.expr.CosineSimilarity], vecs,
        g.cosine_sim(col("a"), col("b"))),
      ("long_dot", classOf[graft.expr.LongDot], vecs, g.long_dot(col("la"), col("lb"))),
      ("ordered_struct_sum", classOf[graft.expr.OrderedStructSum], vecs,
        g.ordered_struct_sum(col("kv"))))
  }

  /** `executed` drains the listener bus and returns the physical plan of
    * the last executed query. */
  def expr(spark: SparkSession, data: String, corpusDir: String, k: Int,
      executed: () => Option[SparkPlan]): Map[String, Any] = {
    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.repartition(k).cache(); (c, c.count())
    }
    val reps = spark.range(16).select(col("id").as("rep"))
    val (docs, nDocs) = cached(spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(reps).select("text"))
    val (jaDocs, nJa) = cached(spark.read.parquet(s"$corpusDir/corpus.parquet").select("text"))
    val (vecs, nVecs) = cached(spark.read.parquet(s"$data/embeddings.parquet")
      .crossJoin(reps)
      .select(col("embedding").as("a"), reverse(col("embedding")).as("b"))
      .select(col("a"), col("b"),
        transform(col("a"), x => (x * 1000000).cast("long")).as("la"),
        transform(col("b"), x => (x * 1000000).cast("long")).as("lb"),
        transform(col("a"), x => struct((x * 100).cast("int").as("key"),
          x.cast("double").as("v"))).as("kv")))
    val rows = Map[DataFrame, Long](docs -> nDocs, jaDocs -> nJa, vecs -> nVecs)
    val out = kernels(docs, jaDocs, vecs).flatMap { case (name, cls, in, c) =>
      val df = in.select(c.as("r"))
      def run(): Double = {
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      val (best, _) = Harness.timed(0, "expr", name) { _ =>
        run() // warm-up
        math.min(run(), run())
      }
      val plan = executed().map(Harness.interpreted(_, cls)).getOrElse(1)
      Seq(s"expr.$name.rows_per_s" -> rows(in) / best, s"expr.$name.interpreted" -> plan)
    }
    Seq(docs, jaDocs, vecs).foreach(_.unpersist())
    out.toMap
  }
}
