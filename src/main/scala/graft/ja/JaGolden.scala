package graft.ja

/** Loader for the engine-owned golden corpus
  * (resources/graft/ja/golden_corpus.tsv): hand-reviewed sentences with
  * their expected token sequences — NORMAL for every sentence, SEARCH and
  * EXTENDED for the mode-reviewed subset. Shipped in the main jar because
  * the corpus is both a spec fixture (JaCorpusSpec full-sequence
  * assertions) and the input to the oracle-checked queries q55 (NORMAL) and
  * q56/q57 (SEARCH/EXTENDED) — the Japanese-text analogue of the
  * reference's golden tests, pinned inside the driver's correctness gate
  * (VERDICT r1 #1; mode pins VERDICT r2 "Next round" #4, mirroring the
  * reference's mode contract KuromojiNEologdUDF.java:171-192).
  */
object JaGolden {

  /** (1-based sentence id, raw sentence, expected tokens per mode; SEARCH/
    * EXTENDED are None for sentences outside the mode-reviewed subset).
    */
  final case class Golden(
      sid: Int,
      sentence: String,
      expected: Seq[String],
      search: Option[Seq[String]],
      extended: Option[Seq[String]])

  lazy val corpus: Seq[Golden] = {
    val in = getClass.getResourceAsStream("/graft/ja/golden_corpus.tsv")
    require(in != null, "missing resource graft/ja/golden_corpus.tsv")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    lines.zipWithIndex.map { case (l, i) =>
      require(!l.contains("'"),
        s"corpus line ${i + 1} contains a quote — would break the SQL oracle literal")
      val f = l.split("\t", -1)
      require(f.length >= 2 && f.length <= 4, s"corpus line ${i + 1}: ${f.length} fields")
      def toks(s: String): Option[Seq[String]] =
        if (s.trim.isEmpty) None else Some(s.trim.split("\\|").toSeq)
      Golden(i + 1, f(0),
        toks(f(1)).getOrElse(sys.error(s"corpus line ${i + 1}: empty NORMAL column")),
        if (f.length > 2) toks(f(2)) else None,
        if (f.length > 3) toks(f(3)) else None)
    }
  }

  /** No-stop-filter subset (reference A4/A5 empty-set semantics) driving
    * q60: (sid, sentence, expected raw morpheme stream). Reviewed rows in
    * resources/graft/ja/nostop_corpus.tsv.
    */
  lazy val nostopSubset: Seq[(Int, String, Seq[String])] = {
    val in = getClass.getResourceAsStream("/graft/ja/nostop_corpus.tsv")
    require(in != null, "missing resource graft/ja/nostop_corpus.tsv")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        require(!l.contains("'"), "nostop corpus line contains a quote")
        val f = l.split("\t", -1)
        require(f.length == 3, s"nostop corpus: expected 3 fields, got ${f.length}")
        (f(0).toInt, f(1), f(2).split("\\|").toSeq)
      }.toSeq
  }

  def nostopOracleSql: String =
    literalTable(nostopSubset.map { case (sid, _, toks) => (sid, toks) })

  /** The mode-reviewed subsets driving q56/q57. */
  lazy val searchSubset: Seq[(Int, String, Seq[String])] =
    corpus.collect { case g if g.search.isDefined => (g.sid, g.sentence, g.search.get) }
  lazy val extendedSubset: Seq[(Int, String, Seq[String])] =
    corpus.collect { case g if g.extended.isDefined => (g.sid, g.sentence, g.extended.get) }

  private def literalTable(rows: Seq[(Int, Seq[String])]): String = {
    // `VALUES` with zero rows is a DuckDB parse error; an empty subset means
    // every SEARCH/EXTENDED column was stripped from golden_corpus.tsv.
    require(rows.nonEmpty,
      "golden corpus subset is empty — check the mode columns in graft/ja/golden_corpus.tsv")
    val vals = rows.map { case (sid, toks) =>
      s"($sid, ${toks.size}, '${toks.mkString("|")}')"
    }
    s"""SELECT * FROM (VALUES ${vals.mkString(",\n  ")}) AS t(sid, n_toks, tokens)
       |ORDER BY sid""".stripMargin
  }

  /** DuckDB VALUES literal of the expected outputs — the q55 oracle. The
    * expectations are data (human-reviewed), not computation, so the oracle
    * is a literal table: Spark recomputes the tokens through the real
    * analyzer chain and the driver hash-compares against these rows.
    */
  def oracleSql: String = literalTable(corpus.map(g => (g.sid, g.expected)))

  /** One evaluated blind held-out set: its number, the oracle-gate query
    * that pins it, its pinned sentence count, and the sentences it may share
    * with earlier corpora (documented authoring slips). Each set's protocol,
    * first-run rate and adjudication are in its resource header.
    */
  final case class Heldout(set: Int, query: String, size: Int,
      allowedOverlap: Set[String] = Set.empty) {
    def resource: String = s"/graft/ja/heldout_corpus${if (set == 1) "" else set}.tsv"

    /** (1-based sid, sentence, expected NORMAL tokens), loaded once per JVM. */
    lazy val rows: Seq[(Int, String, Seq[String])] = {
      val in = getClass.getResourceAsStream(resource)
      require(in != null, s"missing resource $resource")
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .zipWithIndex.map { case (l, i) =>
          require(!l.contains("'"), s"$resource line contains a quote")
          val f = l.split("\t", -1)
          require(f.length == 2, s"$resource line ${i + 1}: expected 2 fields, got ${f.length}")
          (i + 1, f(0), f(1).split("\\|").toSeq)
        }.toSeq
    }

    def oracleSql: String = literalTable(rows.map { case (sid, _, toks) => (sid, toks) })
  }

  /** The evaluated held-out sets, in evaluation order. Sets 27 and 28 are
    * pre-registered and not yet evaluated, so they have no row.
    */
  val heldout: Seq[Heldout] = Seq(
    Heldout(1, "q101_tokenize_ja_heldout", 98),
    Heldout(2, "q105_tokenize_ja_heldout2", 60),
    Heldout(3, "q106_tokenize_ja_heldout3", 30),
    Heldout(4, "q107_tokenize_ja_heldout4", 40),
    Heldout(5, "q113_tokenize_ja_heldout5", 42),
    Heldout(6, "q119_tokenize_ja_heldout6", 40),
    Heldout(7, "q122_tokenize_ja_heldout7", 40),
    Heldout(8, "q123_tokenize_ja_heldout8", 40),
    // one authoring slip each: set 9 sid 38 = golden 1236, set 10 sid 35 = golden 1044
    Heldout(9, "q124_tokenize_ja_heldout9", 40, Set("落ち葉を踏む音が心地よかった。")),
    Heldout(10, "q126_tokenize_ja_heldout10", 40, Set("夏祭りの屋台で焼きそばを買った。")),
    Heldout(11, "q139_tokenize_ja_heldout11", 40),
    Heldout(12, "q140_tokenize_ja_heldout12", 40),
    Heldout(13, "q143_tokenize_ja_heldout13", 40),
    Heldout(14, "q152_tokenize_ja_heldout14", 40),
    Heldout(15, "q161_tokenize_ja_heldout15", 40),
    Heldout(16, "q171_tokenize_ja_heldout16", 40),
    Heldout(17, "q181_tokenize_ja_heldout17", 40),
    Heldout(18, "q186_tokenize_ja_heldout18", 40),
    Heldout(19, "q194_tokenize_ja_heldout19", 40),
    Heldout(20, "q195_tokenize_ja_heldout20", 40),
    Heldout(21, "q201_tokenize_ja_heldout21", 40),
    Heldout(22, "q202_tokenize_ja_heldout22", 40),
    Heldout(23, "q221_tokenize_ja_heldout23", 40),
    Heldout(24, "q222_tokenize_ja_heldout24", 40),
    Heldout(25, "q229_tokenize_ja_heldout25", 40),
    Heldout(26, "q230_tokenize_ja_heldout26", 40))

  def heldoutSet(set: Int): Heldout =
    heldout.find(_.set == set).getOrElse(
      throw new IllegalArgumentException(s"no evaluated held-out set $set"))

  /** q56/q57 oracles: literal tables of the reviewed SEARCH/EXTENDED rows. */
  def searchOracleSql: String =
    literalTable(searchSubset.map { case (sid, _, toks) => (sid, toks) })
  def extendedOracleSql: String =
    literalTable(extendedSubset.map { case (sid, _, toks) => (sid, toks) })
}
