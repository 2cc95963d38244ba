package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.AcAutomaton

/** Aho–Corasick blocklist scan: automaton output must equal the naive
  * per-pattern contains result on every adversarial shape — suffix
  * overlaps (failure links), output-set propagation (a pattern that is a
  * proper suffix of another's prefix path), repeats, and multi-byte text.
  */
class AcMatchSpec extends AnyFunSuite {

  private def naive(patterns: Array[String], s: String): Seq[String] =
    patterns.filter(s.contains(_)).sorted.toSeq

  private def ac(patterns: Array[String], s: String): Seq[String] = {
    val a = new AcAutomaton(patterns)
    a.scan(s).map(patterns(_)).sorted.toSeq
  }

  test("failure links: suffix-overlapping patterns all fire from one pass") {
    val ps = Array("scan", "can", "an s", "n sc")
    val s = "a scan scans"
    assert(ac(ps, s) == naive(ps, s))
    assert(ac(ps, s) == Seq("an s", "can", "n sc", "scan"))
  }

  test("output propagation: a pattern ending mid-path of another is still reported") {
    // "he" ends inside the path of "hers"; "she" -> failure into "he" node
    val ps = Array("he", "she", "his", "hers")
    assert(ac(ps, "ushers") == naive(ps, "ushers"))
    assert(ac(ps, "ushers") == Seq("he", "hers", "she"))
    assert(ac(ps, "this") == Seq("his"))
  }

  test("randomized parity with naive contains over a small alphabet") {
    val rng = new scala.util.Random(42)
    val patterns = (1 to 20).map(_ =>
      (1 to (1 + rng.nextInt(4))).map(_ => ('a' + rng.nextInt(3)).toChar).mkString)
      .distinct.toArray
    (1 to 200).foreach { _ =>
      val s = (1 to (5 + rng.nextInt(40))).map(_ => ('a' + rng.nextInt(3)).toChar).mkString
      assert(ac(patterns, s) == naive(patterns, s), s"text '$s'")
    }
  }

  test("randomized parity over a supplementary-plane alphabet (surrogate pairs in the frozen trie)") {
    // the r17 frozen form walks UTF-16 code units: a surrogate-pair
    // pattern is two trie edges whose chars are individually meaningless —
    // parity with naive contains proves the goto/failure machinery is
    // agnostic to where code-point boundaries fall
    val rng = new scala.util.Random(7)
    val alphabet = Array("😀", "😁", "𝕏", "a")
    val patterns = (1 to 16).map(_ =>
      (1 to (1 + rng.nextInt(3))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
      .distinct.toArray
    (1 to 100).foreach { _ =>
      val s = (1 to (3 + rng.nextInt(25))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      assert(ac(patterns, s) == naive(patterns, s), s"text '$s'")
    }
  }

  test("multi-byte text and patterns; empty text matches nothing") {
    val ps = Array("寿司", "司屋", "った")
    assert(ac(ps, "駅前の寿司屋に行った") == Seq("った", "司屋", "寿司"))
    assert(ac(ps, "") == Seq())
  }

  test("construction rejects empty and duplicate patterns") {
    intercept[IllegalArgumentException](new AcAutomaton(Array[String]()))
    intercept[IllegalArgumentException](new AcAutomaton(Array("a", "")))
    intercept[IllegalArgumentException](new AcAutomaton(Array("a", "a")))
  }

  test("SQL surface: ac_match(text, array(...)) with the const-array contract") {
    val spark = TestSpark.spark
    Graft.register(spark)
    import spark.implicits._
    Seq((1L, "she ushers them in")).toDF("id", "text").createOrReplaceTempView("acm_sql")
    val r = spark.sql(
      "SELECT ac_match(text, array('he', 'she', 'his', 'hers')) AS m FROM acm_sql")
      .head().getSeq[String](0)
    assert(r == Seq("he", "hers", "she"))
    // every constant-argument function rejects a column argument
    Seq(
      "ac_match(text, array(text))" -> "ac_match patterns must be a constant ARRAY<STRING>",
      "simhash64(text, length(text))" -> "simhash64 bits must be a constant INT",
      "shingle_hashes(split(text, ' '), length(text))" -> "shingle_hashes k must be a constant INT",
      "rolling_window_hashes(text, length(text))" -> "rolling_window_hashes win must be a constant INT"
    ).foreach { case (call, msg) =>
      val err = intercept[Exception] {
        spark.sql(s"SELECT $call FROM acm_sql").collect()
      }
      assert(err.getMessage.contains(msg), err.getMessage)
    }
  }

  test("Spark column path: ac_match equals the filter-of-contains composition") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ps = Array("table part", "scan", "can", "windows")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaAc = docs.select(col("doc_id"),
        concat_ws("|", graft.functions.ac_match(col("text"), ps)).as("m"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaContains = docs.select(col("doc_id"),
        concat_ws("|", sort_array(filter(
          typedLit(ps.toSeq), p => col("text").contains(p)))).as("m"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaAc == viaContains && viaAc.nonEmpty)
    assert(viaAc.exists(_._2.nonEmpty), "expected at least one match in sf0.001 docs")
  }

  test("matchSorted uses UTF-8 binary order (sort_array semantics), not UTF-16 code-unit order") {
    // U+FF01 (FULLWIDTH !) sits in the BMP above the surrogate range:
    // UTF-16 natural order puts it AFTER a supplementary-plane char's
    // surrogates... actually BEFORE — the point: "😀" (U+1F600)
    // compares as 0xD83D in UTF-16, BELOW U+FF01; in UTF-8/code-point
    // order U+1F600 > U+FF01. The two orders disagree on this pair
    // (ADVICE r16).
    val hi = "😀" // U+1F600, UTF-16 leads 0xD83D
    val fw = "！"       // U+FF01, above the surrogate block
    assert(hi.compareTo(fw) < 0, "precondition: UTF-16 order puts the emoji first")
    val auto = new graft.expr.AcAutomaton(Array(hi, fw))
    val got = graft.expr.AcAutomaton
      .matchSorted(auto, org.apache.spark.unsafe.types.UTF8String.fromString(hi + " " + fw))
      .array.map(_.toString).toSeq
    assert(got == Seq(fw, hi), s"expected UTF-8 binary order (fullwidth first), got $got")
    // and the engine order equals Spark's own sort_array on the same pair
    val spark = TestSpark.spark
    import spark.implicits._
    val viaSpark = Seq(hi + " " + fw).toDF("text")
      .select(graft.functions.ac_match(col("text"), Array(hi, fw)).as("m"))
      .collect().head.getSeq[String](0)
    val viaSortArray = Seq(Seq(hi, fw)).toDF("a")
      .select(sort_array(col("a"))).collect().head.getSeq[String](0)
    assert(viaSpark == viaSortArray)
  }

  test("AcMatch equality is structural (Seq params): semantically identical calls compare equal") {
    // ADVICE r16: Array params made two identical AcMatch instances
    // reference-unequal, defeating Catalyst CSE/canonicalization
    val a = graft.expr.AcMatch(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), Seq("p", "q"))
    val b = graft.expr.AcMatch(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), Seq("p", "q"))
    assert(a == b && a.semanticEquals(b))
    val c = graft.expr.BpeSegment(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), Seq(("a", "b")))
    val d = graft.expr.BpeSegment(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), Seq(("a", "b")))
    assert(c == d && c.semanticEquals(d))
  }
}
