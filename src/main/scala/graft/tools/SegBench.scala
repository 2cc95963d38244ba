package graft.tools

import org.apache.spark.unsafe.types.UTF8String

import graft.expr.Kernels

/** Single-thread subword-segmentation kernel micro-benchmark: chars/s of
  * the two plan-embedded decode kernels — BPE
  * (graft.expr.Kernels.bpeSegment, the q187 apply path) and unigram-LM
  * Viterbi (Kernels.unigramSegment, the q218 E-step) — on a deterministic
  * synthetic corpus (LCG, fixed seed; no wall-clock dependence). The
  * numbers feed BASELINE.md's engine rows: per-row decode cost is the
  * 100 TB term for both kernels, since each runs as a zero-shuffle
  * projection.
  */
object SegBench {

  private def lcg(seed: Long): () => Long = {
    var s = seed
    () => { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 16 }
  }

  def main(args: Array[String]): Unit = {
    val iters = if (args.nonEmpty) args(0).toInt else 300
    val rnd = lcg(42L)
    val alphabet = "abcdefghijklmnop"
    // zipf-ish words: short frequent stems + longer tails
    val stems = (0 until 64).map { _ =>
      val len = 2 + (rnd() % 3).toInt
      (0 until len).map(_ => alphabet((rnd() % 8).toInt)).mkString
    }
    val words = (0 until 2048).map { _ =>
      val s = stems((rnd() % 64).toInt)
      if (rnd() % 4 == 0) s + alphabet((rnd() % 16).toInt) else s
    }
    val lines = (0 until 200).map { _ =>
      (0 until 50).map(_ => words((rnd() % 2048).toInt)).mkString(" ")
    }.map(UTF8String.fromString).toArray
    val totalChars = lines.map(_.numChars().toLong).sum

    // vocab: all 16 chars + the 64 stems (multi-piece), uniform-ish probs
    val pieces = alphabet.map(_.toString) ++ stems.distinct
    val probs = pieces.map(p => if (p.length == 1) 0.002 else 0.01)
    val vocab = new java.util.HashMap[String, java.lang.Double]()
    pieces.zip(probs).foreach { case (p, pr) => vocab.put(p, Double.box(pr)) }
    val maxLen = pieces.map(_.length).max
    // BPE merge table from stem prefixes (comparable per-row work shape)
    val merges = stems.distinct.filter(_.length >= 2).take(64).flatMap { s =>
      (1 until s.length).map(i => (s.substring(0, i), s.substring(i, i + 1)))
    }.distinct.take(64)
    val pat = merges.map(m => " " + m._1 + " " + m._2 + " ").toArray
    val rep = merges.map(m => " " + m._1 + m._2 + " ").toArray

    def bench(name: String)(f: UTF8String => Int): Unit = {
      var sink = 0
      var i = 0
      while (i < iters / 10) { lines.foreach(l => sink += f(l)); i += 1 }
      val t0 = System.nanoTime()
      i = 0
      while (i < iters) { lines.foreach(l => sink += f(l)); i += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-16s ${iters.toLong * totalChars / sec}%,14.0f chars/s (sink=$sink)")
    }
    bench("bpe_segment")(l => Kernels.bpeSegment(l, pat, rep).numElements())
    bench("unigram_segment")(l =>
      Kernels.unigramSegment(l, vocab, 1e-9, maxLen).numElements())
    // the soft E-step (q231/q234): forward + backward + quantized emission
    // — the expected-count sibling of the Viterbi decode, same plan shape
    bench("unigram_expected")(l =>
      Kernels.unigramExpected(l, vocab, 1e-9, maxLen).numElements())
  }

}
