package graft.ja

import org.scalatest.funsuite.AnyFunSuite

/** Locks in the round-12 fragility-audit invariant (PLANS.md): a pinned
  * expected token that is only reachable through an unknown-run merge
  * silently re-segments the moment any fragment of it enters the
  * dictionary — measured live when リフト entering the dictionary split
  * the held-out-12 pin フォークリフト. After the KatAudit / KanjiAudit /
  * HiraAudit sweeps every such token in the golden corpus and held-out
  * sets 1-12 was lexicalized; this spec FAILS the build if a pin in those
  * corpora falls into the fragile class, forcing the author to either add
  * the lexeme or consciously pin a decomposition. Held-out sets 13 and
  * later are not checked: they still pin unknown-run merges (the open
  * list is in CHANGES.md), and lexicalizing them changes segmentation.
  *
  * Fragile = a multi-char single-script token (katakana >= 4, kanji >= 2,
  * hiragana >= 2) that (a) appears as an expected NORMAL token, (b) is not
  * a dictionary surface or base form, and (c) tokenizes to itself in
  * isolation (i.e. it only "works" because the unknown-run path happens to
  * merge it today).
  */
class PinFragilitySpec extends AnyFunSuite {

  /** The audit covered held-out sets 1-12; later sets are not checked. */
  private val LastAuditedSet = 12

  private def scriptClass(t: String): Option[String] = {
    def all(p: Char => Boolean) = t.nonEmpty && t.forall(p)
    if (all(c => c >= 'ァ' && c <= 'ヿ' || c == 'ー') && t.length >= 2) Some("katakana")
    else if (all(c => c >= '一' && c <= '鿿') && t.length >= 2) Some("kanji")
    else if (all(c => c >= 'ぁ' && c <= 'ゖ') && t.length >= 2) Some("hiragana")
    else None
  }

  test("no pinned NORMAL token relies on an unknown-run merge (audit invariant)") {
    val known: Set[String] = JaDictionary.embeddedEntries
      .flatMap { e =>
        val raw = Seq(e.surface, e.base).filter(_.nonEmpty)
        // pinned katakana tokens carry the T6 prolonged-mark stem — a pin
        // バッテリ is dictionary-backed when バッテリー is the entry
        raw ++ raw.collect {
          case s if s.length >= 4 && s.last == 'ー' => s.dropRight(1)
        }
      }.toSet
    val pinned: Seq[String] =
      (JaGolden.corpus.map(g => g.expected) ++
        JaGolden.heldout.filter(_.set <= LastAuditedSet)
          .flatMap(_.rows.map(_._3))).flatten.distinct
    val tok = new JaTokenizer()
    val fragile = pinned.filter { t =>
      scriptClass(t).isDefined && !known.contains(t) &&
        tok.tokenize(t).toSeq == Seq(t)
    }
    assert(fragile.isEmpty,
      s"${fragile.size} pinned tokens are unknown-run merges — lexicalize " +
        s"them (KatAudit class) or pin decompositions: ${fragile.take(20).mkString(", ")}")
  }
}
