package graft.tools

import graft.ja.{JaGolden, JaMode, JaTokenizer}

/** Held-out tokenizer evaluation (VERDICT r6 "Next round" #2).
  *
  * Runs the default-config NORMAL tokenizer over one blind-authored
  * held-out set of `JaGolden.heldout` (set 1 by default:
  * resources/graft/ja/heldout_corpus.tsv — 98 sentences authored from a
  * topic list WITHOUT consulting the dictionary or tokenizer; see the file
  * header for the protocol) and reports the sentence-level full-sequence
  * match rate plus every diff. The FIRST run of this tool is the honest
  * out-of-sample conformance number recorded in SURVEY.md; later runs track
  * improvement from dictionary/lattice fixes.
  *
  * Usage: `runMain graft.tools.HeldoutEval [set]`.
  *
  * Mirrors the reference's robustness intent: KuromojiNEologdUDFTest.java
  * :202–259 tokenizes arbitrary news text the dictionary was not tuned on.
  */
object HeldoutEval {

  /** (matched, total, (sid, sentence, expected, got) per diff). */
  def evaluate(set: Int = 1): (Int, Int, Seq[(Int, String, Seq[String], Seq[String])]) = {
    val tok = new JaTokenizer(JaMode.Normal)
    val rows = JaGolden.heldoutSet(set).rows
    val diffs = rows.flatMap { case (sid, sentence, expected) =>
      val got = tok.tokenize(sentence).toSeq
      if (got == expected) None else Some((sid, sentence, expected, got))
    }
    (rows.size - diffs.size, rows.size, diffs)
  }

  def main(args: Array[String]): Unit = {
    val (ok, total, diffs) = evaluate(args.headOption.fold(1)(_.toInt))
    val report = new StringBuilder
    report ++= f"heldout full-sequence match: $ok/$total (${100.0 * ok / total}%.1f%%)%n"
    diffs.foreach { case (sid, sentence, expected, got) =>
      report ++= s"sid=$sid  $sentence\n"
      report ++= s"  expected: ${expected.mkString("|")}\n"
      report ++= s"  got:      ${got.mkString("|")}\n"
    }
    print(report)
    // console encodings vary; the UTF-8 file is the analysis artifact
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/heldout_diffs.txt"),
      report.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
