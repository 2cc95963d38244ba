package graft.ja

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Held-out conformance pins (VERDICT r6 "Next round" #2), two tests per
  * evaluated set of `JaGolden.heldout`: every sentence matches its reviewed
  * token sequence at the pinned set size, and the set is disjoint from the
  * golden corpus and every earlier set, up to its documented authoring
  * slips. Each set was authored blind from topic lists and first run
  * against the tokenizer only after being committed; the first-run rates
  * and adjudications are in the resource headers and SURVEY.md §7.4. The
  * set's query (q101 for set 1) pins the same rows inside the DuckDB
  * oracle gate.
  */
class HeldoutCorpusSpec extends AnyFunSuite {

  /** Sets with a committed corpus file that have not been evaluated yet. */
  private val PreRegistered = Seq(27, 28)

  /** How each set's pin has always been named. */
  private def register(set: Int): String = set match {
    case 1 | 2 => "blind-authored"
    case 3 => "post-compound-derivation"
    case 4 => "post-aux-expansion"
    case _ => "fresh-register"
  }

  JaGolden.heldout.foreach { h =>
    val n = h.set
    val label = if (n == 1) "held-out corpus" else s"held-out corpus $n"
    val tag = if (n == 1) "held-out" else s"held-out-$n"

    test(s"$label: ${h.size} ${register(n)} sentences, full-sequence match") {
      val tok = new JaTokenizer()
      val corpus = h.rows
      assert(corpus.size == h.size, s"$label must stay at ${h.size} sentences, got ${corpus.size}")
      val failures = corpus.flatMap { case (sid, s, expected) =>
        val got = tok.tokenize(s).toSeq
        if (got == expected) None
        else Some(s"sid=$sid $s\n  expected ${expected.mkString("|")}\n  got      ${got.mkString("|")}")
      }
      assert(failures.isEmpty, s"\n${failures.size} $tag mismatches:\n${failures.mkString("\n")}")
    }

    val disjointName = n match {
      case 1 => "held-out corpus is disjoint from the development golden corpus"
      case 2 => "held-out corpus 2 is disjoint from the golden corpus and held-out 1"
      case _ if h.allowedOverlap.nonEmpty =>
        s"held-out corpus $n is disjoint from all earlier corpora (one documented slip)"
      case _ => s"held-out corpus $n is disjoint from all earlier corpora"
    }
    test(disjointName) {
      // an allowed overlap is a blind-authoring slip documented in the
      // set's resource header
      val seen = JaGolden.corpus.map(_.sentence).toSet ++
        JaGolden.heldout.filter(_.set < n).flatMap(_.rows.map(_._2))
      val overlap = h.rows
        .filter { case (_, s, _) => seen.contains(s) && !h.allowedOverlap.contains(s) }
      assert(overlap.isEmpty, s"$tag sentences not out-of-sample: ${overlap.map(_._1).mkString(",")}")
    }
  }

  test("every held-out corpus resource is a table row or a pre-registered set") {
    val dirs = getClass.getClassLoader.getResources("graft/ja").asScala.toSeq
    assert(dirs.nonEmpty && dirs.forall(_.getProtocol == "file"),
      s"expected graft/ja resource directories, got ${dirs.mkString(", ")}")
    val found = dirs.flatMap { d =>
      Files.list(Paths.get(d.toURI)).iterator.asScala.map(_.getFileName.toString).toSeq
    }.filter(_.matches("heldout_corpus\\d*\\.tsv")).toSet
    val wired = (JaGolden.heldout.map(_.resource) ++
      PreRegistered.map(n => s"/graft/ja/heldout_corpus$n.tsv")).map(_.stripPrefix("/graft/ja/"))
    assert(JaGolden.heldout.map(_.set).intersect(PreRegistered).isEmpty,
      "a pre-registered set is also a table row")
    assert(found == wired.toSet,
      s"unwired: ${(found -- wired).mkString(", ")}; missing: ${(wired.toSet -- found).mkString(", ")}")
  }
}
