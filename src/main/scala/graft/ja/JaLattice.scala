package graft.ja

/** Cost model for the Viterbi lattice (JaTokenizer): morpheme classes, the
  * class-transition connection matrix, per-class word costs, and
  * unknown-word costs.
  *
  * This is the compact-class analogue of MeCab/Kuromoji's full left/right
  * connection-id matrices (the reference builds those from mecab-ipadic-
  * NEologd, /root/reference/build.sh:104-161; no corpus statistics are
  * available offline, so transitions are hand-assigned per grammatical
  * class instead of per context id; a matrix trained on the reviewed
  * corpora was tried twice and rejected by the golden replay both times,
  * PLANS.md). Costs are unit-free integers; lower is better. The
  * invariants the tuning maintains:
  *
  *   - dictionary morphemes beat unknown runs covering the same span;
  *   - one long unknown run beats the same run fragmented (base cost is
  *     paid per token, so grouping is naturally subadditive);
  *   - long lexicalized entries (NEologd named entities) beat their
  *     compositional segmentations in NORMAL mode via the length bonus;
  *   - inflected verb/adjective forms attract their auxiliaries
  *     (使っ+た, 高かっ+た) through negative connection costs.
  */
private[ja] object JaCosts {

  // connection classes
  final val BOS = 0
  final val Particle = 1
  final val Aux = 2
  final val VerbInfl = 3 // non-terminal conjugated form (base set): 使っ, 書か
  final val VerbTerm = 4 // terminal/dictionary form: 使う
  final val AdjInfl = 5 // 高く, 高かっ
  final val AdjTerm = 6 // 高い
  final val Noun = 7
  final val NounSuffix = 8 // 名詞-接尾: 系, 者, 的
  final val Prefix = 9 // 接頭詞: 第, 約
  final val Num = 10 // 名詞-数 and digit runs
  final val Adv = 11 // adverbs, conjunctions, adnominals, interjections
  final val Unknown = 12
  final val Sahen = 13 // 名詞-サ変接続: attracts する/し (発表した)
  final val VerbCond = 14 // godan 仮定/命令 (書け, 届け): precedes ば, never た
  final val ParticleBa = 15 // the conditional particle ば itself
  final val AdjGaru = 16 // i-adjective 語幹 (忙し): licenses 様態 そう only
  final val AuxTa = 17 // the past auxiliary た: 連用形-only, never bare-noun
  final val VOnbin = 18 // voiced-past 音便 stem (泳い/読ん): precedes だ/で, never た
  final val AuxDesu = 21 // the noun-copula family です/でし/だ/だっ: attaches to
  // nominals (and だ to the voiced 音便 stem — 読んだ), but NEVER to a plain
  // 連用形 (×し+です read 文句なし as 文句|な|し|です); でしょ stays generic
  // Aux because 終止+でしょう is licensed where 終止+です is not
  final val AuxNai = 20 // the negation paradigm ない/なく/なかっ/なけれ: attaches
  // to 未然/連用 hosts (言わ+ない, 高く+ない) but NEVER to a voiced 音便 stem
  // (×読ん+ない) — the generic VOnbin→Aux license exists for だ (読んだ) and
  // was letting 人もいない read 人|もい(→もぐ)|ない
  final val AuxMasu = 19 // 連用形-only auxiliaries: the polite ます paradigm
  // (ます/まし/ませ) and the desiderative たい paradigm (たい/たく/たかっ).
  // Like た, a particle or bare noun before them is ungrammatical — ×に+まし
  // made ～になりました (and ×に+たい, ～になりたい) read なり as the
  // listing particle instead of the verb 連用形
  final val VSugi = 22 // the すぎる helper-verb family (the 連用 stem すぎ and
  // the terminal すぎる; the inflected forms すぎよ/すぎれ dispatch BEFORE the
  // base test into VInt/VerbCond like any verb — ADVICE r12 adjudication:
  // 高すぎれば/怖すぎよう still lemmatize correctly through those generic
  // classes because no competitor undercuts the 8000 stem row, pinned by
  // JaTokenizerSpec "sugi inflected forms"): behaves exactly like the generic
  // verb classes it was split from (row and column copied from VerbInfl),
  // except that adjective 語幹 classes license it — 忙し+すぎ, and crucially
  // the single-kanji 語幹 (怖+すぎ, 高+すぎ) whose AdjGaru1 row blocks almost
  // every OTHER right context
  final val VInt = 24 // bare 意向形 (行こ/食べよ/むしろ): licenses ONLY the
  // volitional う (AuxU) — as generic VerbInfl the r-row 意向 むしろ(→むしる)
  // exactly tied the adverb むしろ and won by relaxation order
  final val AuxU = 25 // the volitional auxiliary う itself (surface-dispatched
  // like ば/た): everything treats it as generic Aux except that VInt may
  // precede it
  final val AdjGaru1 = 23 // single-kanji i-adjective 語幹 (怖, 高, 寒):
  // licenses ONLY 様態そう (Aux), すぎ (VSugi), and the classical ウ音便 う
  // (AuxU — 高うございます/早う行け lemmatize to 高い/早い; ADVICE r12
  // adjudication: the mirror-inherited cell is linguistically right, kept
  // explicit below and spec-pinned); everything else — noun,
  // suffix, particle, generic verb — is priced prohibitively so the stem can
  // never tear an unknown kanji compound (高台, 高見) the way a generic
  // AdjGaru single-kanji entry would (the round-7 guard this class replaces)
  final val AuxCaus = 26 // causative/passive auxiliary stems (せ/させ/れ/
  // られ families): generic Aux in every context EXCEPT after a particle,
  // where the bare stem is ungrammatical (×の+せ) — see classOf
  final val VMizen = 27 // bare godan 未然形 (書か, 言わ, まくら): licenses
  // ONLY the 未然-attaching auxiliaries — ない (AuxNai), ず (AuxMasu),
  // せる/れる (AuxCaus), and generic aux (ん/ぬ) — the VInt pattern one
  // paradigm slot over. As generic VerbInfl the a-row surface stole noun
  // spans: まくる's 未然 まくら beat the noun まくら before を (round-14
  // batch 39). Ichidan stems stay VerbInfl (their stem IS 連用 too).
  final val NumClasses = 28

  def classOf(e: DictEntry): Int = {
    val pos = e.pos
    if (pos.startsWith("助詞")) { if (e.surface == "ば") ParticleBa else Particle }
    else if (pos.startsWith("助動詞")) {
      if (e.surface == "た") AuxTa
      else if (e.surface == "う") AuxU
      else if (e.surface == "ます" || e.surface == "まし" || e.surface == "ませ" ||
        e.surface == "たい" || e.surface == "たく" || e.surface == "たかっ" ||
        e.surface == "ず" || e.surface == "ぬ") AuxMasu // ず and the archaic
      // negative ぬ are 未然-only: the same non-連用 fences
      // (×は+ず must not steal the formal noun はず; ×が+ず must not steal
      // ずれる's stem — round-12 batch-10 replay; ×が+ぬ was undercutting
      // the potential stem ぬれ at the +500 generic-Aux residue fence, so
      // 手袋がぬれて dropped its verb — held-out set 22 sid 24, the
      // round-18 lattice finding. 行か+ぬ stays licensed via VMizen→AuxMasu
      // like 行か+ず; golden 2124's sentence-initial ぬれた never leaked
      // because BOS→Aux is 2300.)
      else if (e.base == "せる" || e.base == "させる" ||
        e.base == "れる" || e.base == "られる") AuxCaus
      // causative/passive auxiliaries: a particle can never precede the
      // bare stem, and at the generic Aux cost the chain の+せ+て
      // (500+900+500) silently swallowed the ichidan 連用 のせ(→のせる) —
      // round-13 batch 33 probe. NOT the AuxMasu fence (its Sahen/Noun
      // cells would break the grammatical 調整+させ/乾燥+させ sv-noun
      // causatives, replay-measured): a dedicated Aux mirror whose ONLY
      // divergence is a +1500 Particle cell — enough that の+せ loses to
      // a real dictionary verb, small enough that の+せ+い still beats
      // emitting the unknown run せい (the sid-335 pin).
      else if (e.surface == "ない" || e.surface == "なく" ||
        e.surface == "なかっ" || e.surface == "なけれ") AuxNai
      else if (e.surface == "です" || e.surface == "でし" ||
        e.surface == "だ" || e.surface == "だっ") AuxDesu
      else Aux
    }
    else if (pos == graft.ja.JaInflection.CondPos) VerbCond
    else if (pos == graft.ja.JaInflection.GaruPos) AdjGaru
    else if (pos == graft.ja.JaInflection.Garu1Pos) AdjGaru1
    else if (pos == graft.ja.JaInflection.VOnbinPos) VOnbin
    else if (pos == graft.ja.JaInflection.VIntPos) VInt
    else if (pos == graft.ja.JaInflection.MizenPos) VMizen
    else if (pos.startsWith("動詞") &&
      (e.base == "すぎる" || e.surface == "すぎる")) VSugi
    // する's irregular 未然 さ functions as the causative-passive bridge
    // (待た+さ+れる, 発表+さ+せる): surface-dispatch it into AuxCaus so the
    // VMizen row licenses it, keeping the する lemma (nostop semantics).
    // As generic VerbInfl the chain rode VMizen→VerbInfl, which is fenced.
    else if (pos.startsWith("動詞") && e.surface == "さ" && e.base == "する") AuxCaus
    else if (pos.startsWith("動詞")) { if (e.base.nonEmpty) VerbInfl else VerbTerm }
    else if (pos.startsWith("形容詞")) { if (e.base.nonEmpty) AdjInfl else AdjTerm }
    else if (pos == "名詞-数") Num
    else if (pos == "名詞-サ変接続") Sahen
    else if (pos.startsWith("名詞-接尾")) NounSuffix
    else if (pos.startsWith("接頭詞")) Prefix
    else if (pos.startsWith("副詞") || pos.startsWith("接続詞") ||
      pos.startsWith("連体詞") || pos.startsWith("感動詞")) Adv
    else Noun
  }

  /** The connection matrix: cost of class `right` following class `left`
    * at conn(left)(right). Hand-assigned per class pair (see the header);
    * an unset cell is 0. Each set cell is a tuned MARGIN against the
    * word-cost scales (dictCost/unknownCost), e.g. Num→NounSuffix −1200 so
    * counter chains beat grouped unknown runs, or a grammar fence that rules
    * out an ungrammatical attachment (×届け+た); its rationale sits beside it.
    */
  val conn: Array[Array[Int]] = {
    val m = Array.fill(NumClasses, NumClasses)(0)
    def set(a: Int, b: Int, v: Int): Unit = m(a)(b) = v
    // sentences/regions rarely open with dependent morphemes. BOS→Aux was
    // 1500 until round 11: the aux たら (600+1500=2100) beat the fish noun
    // たら (2600) at sentence start — a sentence never opens with a bare
    // 助動詞, so the cell now prices the aux path above any 2-cp noun
    // (600+2300=2900 > 2600) while unambiguous aux-initial regions (no
    // dictionary competitor on the span) are unaffected
    set(BOS, Particle, 1200); set(BOS, Aux, 2300); set(BOS, NounSuffix, 1200)
    set(Particle, Aux, 500) // ×か+ん: the generic-Aux residue (ん/ぬ/そう/
    // たら…) never attaches to a bare particle — every other aux subclass
    // already carries its own Particle fence (AuxTa/AuxMasu 2000, AuxU
    // hard block, AuxCaus +1500, AuxDesu/AuxNai via their own cells), but
    // the unset residue cell let と|か|ん (500+900+500+600 with no fence)
    // undercut と+かん and swallow the kana noun かん invisibly (probe 53,
    // the ため息 class). The margin window is tight: the noun path needs
    // the fence above +400, while the pinned な+さい (寝なさい) and
    // の+せ+い (のせい) function-word chains break at +800 — +500 clears
    // かん by 100 and leaves every pin green; replay-gated.
    // canonical attachments
    set(Noun, Particle, -300); set(Particle, Noun, -200)
    set(VerbInfl, Aux, -800) // 使っ+た
    set(VerbInfl, Particle, -300) // 使っ+て
    set(AdjInfl, Aux, -500) // 高かっ+た
    set(Aux, Aux, -300) // でし+た
    set(Noun, Aux, -200) // テスト+です
    set(Noun, NounSuffix, -400) // 研究+者 (kept above 接尾 compound traps)
    set(AdjTerm, Noun, -300) // 強い+揺れ — adnominal 基本形 is canonical; breaks
    // the otherwise-exact cost tie with the ichidan homograph's 連用形
    // (強いる→強い), which would read 強い揺れ as ×強いる|揺れる
    set(AdjTerm, Sahen, -300) // 強い+決意: same pattern onto サ変 nouns
    set(AdjTerm, Adv, 600) // ×大きい+実は: an adverb directly after an
    // i-adjective 基本形 mid-region implies the clause break punctuation
    // would mark (regions already split at 。/、, so 寒い。しかし never
    // crosses this edge) — without the fence the lexicalized adverb 実は
    // (2400) stole 大きい実は = 大きい|実|は (3000+500−800 = 2700) by 300
    // (held-out-18 sid 20); at +600 the adnominal noun reading clears by
    // 300, replay-gated
    set(AdjTerm, VerbInfl, -300) // 強い+揺れ(→揺れる): deverbal-noun use of a
    // 連用形 is the only productive AdjTerm→連用 attachment, and without the
    // cell the ×強いる|揺れる tie stands via VerbInfl→VerbInfl = 0
    set(NounSuffix, Particle, -300) // 三冊+を / 十分+ほど — suffixed nouns take particles like nouns
    set(NounSuffix, NounSuffix, -300) // 五分+おき / 三日+目: interval and
    // ordinal suffixes stack on counters — without the cell the verb
    // homograph おき(→おく) beat the suffix by 200 on 五分おきに
    set(Particle, NounSuffix, 800) // ×が+回(助数詞): counters bind numerals, not particles — breaks
    // the が|回|って tie that NounSuffix→Particle=-300 otherwise creates vs が|回っ|て.
    // Raised 300→800 (round 15): the counter class base is 400 below the verb
    // base, so at +300 the slice counter 切れ stole が+切れ(→切れる)'s 連用形
    // (golden 期限が切れて pin); 接尾 after a bare particle is never licensed,
    // so the cell is a grammar fence like Particle→AuxTa, replay-gated.
    set(Num, NounSuffix, -1200) // 三+回 (deep: 年月日 chains must beat grouped unknown runs)
    set(Prefix, Num, -700) // 第+二
    set(Prefix, Noun, -500) // 新+技術
    // サ変接続 noun behaves as a noun, plus attracts する/し (発表した —
    // the canonical light-verb pattern, so 発表+し beats 発+表し)
    set(Sahen, Particle, -300); set(Particle, Sahen, -200)
    set(Sahen, Aux, -200)
    set(Sahen, NounSuffix, -400)
    set(Prefix, Sahen, -500)
    set(Sahen, VerbInfl, -700); set(Sahen, VerbTerm, -700)
    // 仮定/命令 form: ば attaches cheaply; た/て after it is ungrammatical
    // (命令+た), so penalize hard enough that a sibling ichidan 連用
    // reading of the same surface (届け→届ける) wins before auxiliaries
    set(VerbCond, ParticleBa, -600) // 書け+ば — the ONE licensed attachment
    set(VerbCond, Particle, 400) // ×届け+て — 連用 readings take て
    set(VerbCond, Aux, 1200) // ×届け+た — the ichidan homograph handles it
    // the past auxiliary た is 連用形-only: it mirrors the generic Aux
    // attachments after verb/adjective/aux hosts, but a BARE noun before
    // た is ungrammatical (×組み立て+た must lose to the derived compound
    // verb reading 組み立てた→組み立てる, held-out-5 sid 17). です/だっ keep
    // the generic Noun→Aux −200; only た itself is fenced.
    set(VerbInfl, AuxTa, -800) // 使っ+た
    set(AdjInfl, AuxTa, -500) // 高かっ+た
    set(Aux, AuxTa, -300) // でし+た, だっ+た
    set(Noun, AuxTa, 800) // ×組み立て+た
    set(Adv, AuxTa, 2000) // ×ゆっくり+た: a bare adverb never hosts the
    // past auxiliary — unset (0) the aux pair た+れ undercut the verb 連用
    // たれ after a mimetic (ぽたぽた|た|れ|て read ぽたぽたたれて with no
    // たれる; probe batch 52). Like Particle→AuxTa the fence must sit at
    // 2000, not the 800 margin class: two ~600 aux tokens (た+れ, with the
    // mirrored AuxTa→Aux −300 ride) undercut one 2400 verb dict cost by
    // 400 at any margin-sized value
    set(Sahen, AuxTa, 800) // ×発表+た (発表+し+た is the licensed path)
    set(Particle, AuxTa, 2000) // ×を+た: like Particle→AuxMasu, no particle
    // ever precedes the past auxiliary — unset (0) the chain を|た|たい|た
    // beat を+たたい(→たたく)+た outright, three cheap aux tokens
    // undercutting one verb dict cost (round-14 batch 39, kana たたく)
    set(BOS, AuxTa, 2300) // same level as BOS→Aux/AuxMasu
    set(NounSuffix, AuxTa, 800)
    set(Num, AuxTa, 800)
    set(VerbCond, AuxTa, 1200) // ×届け+た (grammar fence, as with Aux)
    set(BOS, VerbCond, 400) // commands exist but are rare in corpus prose
    // voiced-past 音便 stem (泳い/死ん/遊ん/読ん): だ/で attach like the
    // generic VerbInfl auxiliaries, but the UNVOICED た is ungrammatical
    // (×泳いた, ×もいた) — the fence that keeps 人もいた = 人|も|いた(→いる)
    // from being stolen by the g-row stem reading 人|もい(→もぐ)|た
    // (held-out-8 sid 13)
    // NOTE: VOnbin→Aux is set ONCE, below in the AuxDesu block (+800,
    // ×読ん+れる) — だ moved to the AuxDesu class, which carries the
    // voiced-past license (VOnbin→AuxDesu = −800, 読ん+だ)
    set(VOnbin, Particle, -300) // 泳い+で, 読ん+で
    set(VOnbin, AuxTa, 800) // ×読ん+た
    set(VOnbin, VerbInfl, 800) // ×白ん+でき(→できる): a verb 連用形 can
    // never directly follow the voiced 音便 stem — only だ/で attach. Unset
    // (0) the ichidan stem でき rode the hole and 白んできた EXACTLY tied
    // 白ん|で|き(→くる)|た (2400+600−800 = 2200 both ways), losing the te-form
    // auxiliary くる by relaxation order (held-out-18 sid 40). Same grammar
    // fence level as VOnbin→Aux; replay-gated.
    set(VOnbin, VerbTerm, 800) // ×読ん+くる: same grammar, terminal form
    set(VOnbin, ParticleBa, 400) // mirrors VerbInfl (×連用+ば)
    set(VerbInfl, ParticleBa, 400) // ×連用+ば (使い+ば is ungrammatical)
    set(AdjInfl, ParticleBa, -500) // 高けれ+ば
    set(BOS, ParticleBa, 1200)
    set(Particle, ParticleBa, 700)
    // i-adjective 語幹 (ガル接続): そう/がる attachment is the ONE licensed
    // use (忙し+そう); every other right context — noun, particle, suffix,
    // another stem — means the stem reading stole the start of the full
    // adjective or of an unrelated word (つら+ら for つらら), so the whole
    // row is a closed grammar block like VerbCond, penalized except Aux
    (0 until NumClasses).foreach(r => set(AdjGaru, r, 1000))
    set(AdjGaru, Aux, -400) // 忙し+そう(助動詞)
    // discourage fragmenting
    set(Num, Num, -150) // numeral chains cohere (三+十+分); was +300, flipped so 三十|分 beats 三|十分
    set(Particle, Particle, 900) // was 700: や|って (2 particles, 2400) beat
    // やっ(→やる)|て (2600) in held-out-8 sid 4 — 900 flips it to 2800 while
    // legitimate double-particle chains (には/からも) have no dictionary
    // competitor on their span and are unaffected (golden replay green)
    set(Unknown, Unknown, 400) // must stay > 0: fastSingleClass emits a
    // Latin/Digit run whole on the strength of it (JaFastPathSpec)
    set(Unknown, NounSuffix, -300) // 名前+さん / 地名+市: an unknown kanji
    // run followed by a noun suffix is the honorific/toponym pattern —
    // without the cell, 鈴木さん+verb tied ×鈴木|さ(→する)|ん via the
    // VerbInfl→Aux ride and lost by relaxation order
    // polite ます paradigm (ます/まし/ませ): 連用形-only, mirroring the AuxTa
    // block — the licensed hosts are verb 連用形 (飲み+ます) and auxiliary
    // 連用形 (られ+ます, でき+ます is VerbInfl); everything else is a fence.
    // ×に+まし is the load-bearing cell: without it ～になりました read なり
    // as the listing particle (500+900 beat the verb's 2400−800).
    set(VerbInfl, AuxMasu, -800) // 飲み+ます, なり+まし
    set(Aux, AuxMasu, -300) // られ+ます, せ+ます
    set(AuxMasu, Aux, -300) // ませ+ん
    set(AuxMasu, AuxTa, -300) // まし+た
    set(Noun, AuxMasu, 800) // ×名詞+ます (です is the polite noun aux)
    set(Adv, AuxMasu, 2000) // ×ゆっくり+ます/たい: the AuxTa fence's
    // mirror at the same Particle-class level — the 連用形-only paradigm
    // never attaches to a bare adverb either
    set(Sahen, AuxMasu, 800) // ×発表+ます (発表+し+ます is the licensed path)
    set(NounSuffix, AuxMasu, 800)
    set(Num, AuxMasu, 800)
    set(Particle, AuxMasu, 2000) // ×に+まし — and ×の+ず: at 800 the
    // single-char 未然-only aux ず (600) plus AuxMasu→Aux れ beat the verb
    // reading of ずれ (の|ず|れ read 現場のずれ without ずれる, golden
    // 1114); no Particle→AuxMasu attachment is ever grammatical, so the
    // fence can sit above any single-aux word cost
    set(BOS, AuxMasu, 2300) // same level as BOS→Aux
    set(VerbCond, AuxMasu, 1200) // ×届け+ます handled by the ichidan homograph
    set(VOnbin, AuxMasu, 800) // ×読ん+ます
    set(AdjInfl, AuxMasu, 800) // ×高く+ます
    set(AdjTerm, AuxMasu, 800) // ×高い+ます (高い+です is licensed, Aux)
    set(VerbTerm, AuxMasu, 800) // ×なる+ます
    // negation paradigm (ない/なく/なかっ/なけれ): every cell MIRRORS the
    // generic Aux value it had before the class split — the ONE change is
    // the VOnbin fence (×読ん+ない), which the だ-licensing VOnbin→Aux=-800
    // could not express while ない shared だ's class.
    set(BOS, AuxNai, 2300)
    set(VerbInfl, AuxNai, -800) // 言わ+ない, 食べ+ない
    set(AdjInfl, AuxNai, -500) // 高く+ない (as AdjInfl→Aux)
    set(Aux, AuxNai, -300) // られ+ない
    set(AuxMasu, AuxNai, -300) // 行きたく+ない… (たく is AuxMasu)
    set(AuxNai, Aux, -300) // ない+です
    set(AuxNai, AuxNai, -300) // mirror of Aux→Aux
    set(AuxNai, AuxTa, -300) // なかっ+た
    set(AuxNai, AuxMasu, -300) // mirror of Aux→AuxMasu
    set(Noun, AuxNai, -200) // 問題+ない
    set(Sahen, AuxNai, -200)
    set(VerbCond, AuxNai, 1200) // mirror of the VerbCond grammar block
    set(VOnbin, AuxNai, 800) // ×読ん+ない — the fix this class exists for
    // noun-copula family です/でし/だ/だっ: every cell mirrors the generic
    // Aux value it had before the split EXCEPT the three 連用-side fences —
    // ×し+です (the 文句なし mis-parse this class exists for), ×高く+だ,
    // and the VOnbin pair: だ keeps its voiced-past license (読ん+だ,
    // now expressible) while the remaining generic aux lose theirs
    // (×読ん+れる).
    set(BOS, AuxDesu, 2300)
    set(Noun, AuxDesu, -200) // テスト+です, 半額+だっ
    set(Sahen, AuxDesu, -200)
    set(Aux, AuxDesu, -300) // ん+でし (ませんでした chain)
    set(AuxNai, AuxDesu, -300) // ない+です
    set(AuxMasu, AuxDesu, -300) // mirror
    set(AuxDesu, Aux, -300) // でしょ relatives
    set(AuxDesu, AuxDesu, -300)
    set(AuxDesu, AuxTa, -300) // でし+た, だっ+た
    set(AuxDesu, AuxMasu, -300)
    set(AuxDesu, AuxNai, -300) // で(は)ない family via だ? mirror
    set(VerbCond, AuxDesu, 1200)
    set(VerbInfl, AuxDesu, 0) // neutral, NOT the generic −800: deverbal-noun
    // + だ is pinned corpus practice (導入済み+だ renders via the verb
    // entry), but し+です must not ride a license — at 0 the なし noun
    // beats 文句|な|し|です by 600 while 済み+だ still crushes the
    // unknown-run alternative
    set(AdjInfl, AuxDesu, 800) // ×高く+だ
    set(VOnbin, AuxDesu, -800) // 読ん+だ — the license だ carries over
    set(VOnbin, Aux, 800) // …which lets the generic cell close (×読ん+れる)
    set(AdjInfl, VerbInfl, -800) // 高く+なり(→なる), 寒く+なっ(→なる): the
    // adverbial 連用形 canonically precedes verbs. −400 cleared the なり
    // particle homograph but left 寒くなって reading ×寒く|な|って — the
    // particle pair costs 500+900+500 = 1900 and the verb path
    // 2400−x−300+500 EXACTLY ties it at x=700 (lost by relaxation order);
    // −800 clears by 100, and no reviewed pin moves (replay green)
    // VSugi (すぎ/すぎる helper verb): exact row/column mirror of VerbInfl —
    // it IS a verb for every generic context (入れ+すぎ, すぎ+て/た/ます) —
    // split out solely so the adjective 語幹 classes can license it by
    // class. Copies run after every set() above so later tuning of the
    // VerbInfl cells flows through automatically.
    locally { var x = 0
      while (x < NumClasses) {
        if (x != VSugi && x != AdjGaru1) {
          m(VSugi)(x) = m(VerbInfl)(x)
          m(x)(VSugi) = m(x)(VerbInfl)
        }
        x += 1
      }
      m(VSugi)(VSugi) = m(VerbInfl)(VerbInfl) }
    set(AdjGaru, VSugi, -400) // 忙し+すぎ: same license as 忙し+そう
    // single-kanji 語幹 (AdjGaru1): incoming edges mirror AdjGaru; the
    // outgoing row is a hard grammar block — ONLY 様態そう (Aux), すぎ
    // (VSugi), and (set explicitly after the AuxU mirror below) the
    // classical ウ音便 う are licensed. +8000 (not AdjGaru's 1000) because the tear
    // math differs at one code point: 高[stem]+台[counter] at a 1000 row
    // would undercut the merged unknown run 高台 (3400+1000+2400 < 7300)
    // and lemmatize unknown compounds into ×高い|台; at 8000 no split
    // through the stem can ever beat an unknown merge.
    locally { var x = 0
      while (x < NumClasses) {
        if (x != AdjGaru1) m(x)(AdjGaru1) = m(x)(AdjGaru)
        x += 1
      } }
    (0 until NumClasses).foreach(r => set(AdjGaru1, r, 8000))
    set(AdjGaru1, Aux, -400) // 怖+そう, 高+そう
    set(AdjGaru1, VSugi, -400) // 怖+すぎ, 高+すぎ
    // AuxU (the volitional う): exact row/column mirror of the generic Aux
    // class it was split from — every host that licensed う before still
    // does at the same cost — split out solely so VInt can license it.
    locally { var x = 0
      while (x < NumClasses) {
        if (x != AuxU && x != VInt) {
          m(AuxU)(x) = m(Aux)(x)
          m(x)(AuxU) = m(x)(Aux)
        }
        x += 1
      }
      m(AuxU)(AuxU) = m(Aux)(Aux) }
    // ONE divergent cell (held-out-17 sid 40, the first lattice-level miss
    // since set 8): the volitional う is 未然/意向形-attaching only — no
    // particle ever precedes it in real Japanese, yet the Aux-mirror cell
    // let も[Particle]+う[AuxU] undercut the dictionary adverb もう, and at
    // a mild +1500 (the Particle→AuxCaus calibration) the compound particle
    // にも+う still undercut に+もう — two function words at ~500 each
    // outprice one 2800-base adverb at any margin-sized fence. Unlike
    // AuxCaus (where の+せ+い must keep beating the unknown run せい) no
    // real text needs Particle→う at all: a stray う after a particle
    // should surface as an unknown, not a volitional. Hard block, replay-gated.
    m(Particle)(AuxU) = 8000
    // AuxCaus (causative/passive せ/させ/れ/られ): exact row/column mirror
    // of the generic Aux class they were split from, with ONE divergent
    // cell — Particle→AuxCaus pays +1500 (×の+せ must lose to a real verb
    // reading like のせ(→のせる), while の+せ+い must still beat emitting
    // the unknown run せい; replay-measured window, batch 33)
    locally { var x = 0
      while (x < NumClasses) {
        if (x != AuxCaus) {
          m(AuxCaus)(x) = m(Aux)(x)
          m(x)(AuxCaus) = m(x)(Aux)
        }
        x += 1
      }
      m(AuxCaus)(AuxCaus) = m(Aux)(Aux) }
    // ABSOLUTE 1500, not Particle→Aux-relative: when the generic residue
    // cell gained its +500 fence (probe 53, ×か+ん) the relative form
    // silently became 2000 and broke のせい's razor-thin +200 ledger
    // margin (sid 335) — the two fences are calibrated against different
    // competitors and must not be coupled.
    m(Particle)(AuxCaus) = 1500
    // the sahen causative/passive (表示+さ+れた, 調整+さ+せて) is as
    // canonical as the light-verb 発表+し: now that する's 未然 さ is
    // classed AuxCaus (VMizen bridge, round 14), the cell must carry the
    // same attraction as Sahen→VerbInfl or 表示された tears to 表|示さ+れ
    // (replay-measured: the Aux-mirror −200 lost by exactly the 500 gap)
    m(Sahen)(AuxCaus) = -700
    // unlike the AuxU ウ音便 case (kept, ADVICE r12) there is no classical
    // reading that licenses a causative stem after a single-kanji adjective
    // 語幹 — re-block the mirror-inherited cell explicitly
    m(AdjGaru1)(AuxCaus) = 8000
    // AdjGaru1 + う: the mirror loop above copied the -400 Aux license into
    // the AuxU column of the otherwise-blocked single-kanji stem row. ADVICE
    // r12 flagged the inheritance as silent; it is KEPT deliberately — the
    // only real text shaped [single-kanji adjective stem]+う is the classical
    // ウ音便 連用 (高うございます, 早う行け), where lemmatizing through the
    // stem (高い/早い) is exactly right, and the volitional reading the cell
    // nominally encodes cannot occur (adjective volitional is 高かろ+う via
    // AdjInfl). Explicit so a reordering of these blocks cannot flip it.
    m(AdjGaru1)(AuxU) = -400
    // VInt (bare 意向形): incoming edges mirror VerbInfl; the outgoing row
    // is a hard grammar block — ONLY う is licensed (行こ+う, 食べよ+う,
    // 話そ+う). A bare 意向 before anything else means the span stole an
    // adverb/noun surface (むしろ, 行こ…) and must lose.
    locally { var x = 0
      while (x < NumClasses) {
        if (x != VInt) m(x)(VInt) = m(x)(VerbInfl)
        x += 1
      } }
    (0 until NumClasses).foreach(r => set(VInt, r, 8000))
    set(VInt, AuxU, -800) // 行こ+う: the one licensed attachment
    // VMizen (bare godan 未然形): incoming edges mirror VerbInfl (copied
    // LAST so the AuxU/AuxCaus mirror loops above are already final); the
    // outgoing row is a grammar block except the 未然-attaching auxiliary
    // families, each copied from the VerbInfl row it was split from —
    // 書か+ない (AuxNai), 思わ+ず (AuxMasu; the ます half of that class
    // never follows a true 未然 in real text), 言わ+れる/書か+せる
    // (AuxCaus), 知ら+ん/行か+ぬ (generic Aux).
    locally { var x = 0
      while (x < NumClasses) {
        if (x != VMizen) m(x)(VMizen) = m(x)(VerbInfl)
        x += 1
      } }
    (0 until NumClasses).foreach(r => set(VMizen, r, 8000))
    set(VMizen, Aux, m(VerbInfl)(Aux))
    set(VMizen, AuxNai, m(VerbInfl)(AuxNai))
    set(VMizen, AuxMasu, m(VerbInfl)(AuxMasu))
    set(VMizen, AuxCaus, m(VerbInfl)(AuxCaus))
    m
  }

  /** End-of-region cost by the last token's class; an unset class is 0. */
  val eos: Array[Int] = {
    val a = Array.fill(NumClasses)(0)
    a(Prefix) = 1000 // a dangling prefix never ends a region
    a(VerbInfl) = 400
    a(VerbCond) = 200 // bare imperative can end a sentence (届け！)
    a(AdjGaru) = 1000 // a dangling adjective 語幹 never ends a region
    a(AdjGaru1) = 8000 // same, at the AdjGaru1 row's grammar-block level
    a(VInt) = 800 // a dangling bare 意向形 is at best literary imperative
    a(VOnbin) = 400 // dangling voiced 音便 stem: same as VerbInfl
    a(VMizen) = 8000 // a bare 未然形 never ends a region (the noun homograph
    // must win there — まくら。)
    // eos(VSugi) stays 0 (not VerbInfl's 400): the terminal すぎる and the
    // nominal dangling すぎ (飲みすぎ。) both legitimately end a region
    a
  }

  /** conn flattened and transposed for the relaxation inner loop: cost of
    * `right` following `left` at connT(right * NumClasses + left) — the loop
    * fixes the edge class and scans predecessors, so this is the
    * stride-1 layout.
    */
  val connT: Array[Int] = {
    val a = new Array[Int](NumClasses * NumClasses)
    var l = 0
    while (l < NumClasses) {
      var r = 0
      while (r < NumClasses) { a(r * NumClasses + l) = conn(l)(r); r += 1 }
      l += 1
    }
    a
  }

  private def posBase(e: DictEntry): Int = {
    val pos = e.pos
    if (pos.startsWith("助詞")) 500
    else if (pos.startsWith("助動詞")) 600
    else if (pos == "名詞-数") 1500
    else if (pos.startsWith("名詞-接尾-助数詞")) 2400 // counters bind to numerals (三十|分 over 三|十分)
    // NOTE round 11: pricing 名詞-形容動詞語幹 at 2600 (to let the na-stem
    // 早め beat the ichidan 連用形 早め→早める before に) was tried and
    // REVERTED — it let 十分 (na, じゅうぶん) steal the pinned counter
    // chain 三|十|分 in six goldens. The めに adverbial family is handled
    // as lexicalized 副詞 entries instead (the すぐに/急に convention).
    else if (pos.startsWith("名詞-接尾")) 3000 // costly enough not to tear compounds
    else if (pos == "名詞-非自立") 1800 // closed-class formal nouns (もの/こと/
    // とき/ため…): function-word-ish cost (1800 − length bonus → 1400 at
    // 2 cp) — at the generic 3000 the particle pair も+のに (500+900+500 =
    // 1900) beat 新しい|もの|に (now 1300), the same shape as the や|って
    // fix; the AuxMasu fence keeps the class from stealing ため+ます-class
    // verb spans (Noun→AuxMasu +800)
    else if (pos.startsWith("接頭詞")) 2200
    else if (pos.startsWith("名詞-固有名詞")) 3200
    else if (pos.startsWith("動詞") || pos.startsWith("形容詞") ||
      pos.startsWith("副詞") || pos.startsWith("接続詞") ||
      pos.startsWith("連体詞") || pos.startsWith("感動詞")) 2800
    else 3000
  }

  /** Embedded-dictionary word cost: class base minus a length bonus (longer
    * lexicalized entries win over their parts — the NEologd contract),
    * floored so chains of long entries cannot go cost-negative. Function
    * words (助詞/助動詞) are closed-class: the entity-length rationale does
    * not apply, and the bonus made って (100) cheaper than て (500), letting
    * 光|って|いる tie 光っ|て|いる — they pay the flat class base instead.
    */
  def dictCost(e: DictEntry, cpLen: Int): Int =
    if (e.pos.startsWith("助詞") || e.pos.startsWith("助動詞")) posBase(e)
    else math.max(100, posBase(e) - 400 * (cpLen - 1))

  /** User-dictionary entries outrank every embedded/unknown alternative on
    * their span (the Kuromoji user-dict contract).
    */
  def userCost(cpLen: Int): Int = -3000 - 400 * cpLen

  /** Unknown-run cost by character class: base paid per token (grouping is
    * subadditive) + per-code-point slope. Hiragana is steep (function words
    * should come from the dictionary); Latin/digit runs group cheaply.
    */
  def unknownCost(cls: CharClasses.CharClass, cpLen: Int): Int = cls match {
    case CharClasses.Kanji => 4500 + 1400 * cpLen
    case CharClasses.Katakana => 4500 + 1000 * cpLen
    case CharClasses.Hiragana => 4800 + 1700 * cpLen
    case CharClasses.Latin => 3500 + 300 * cpLen
    case CharClasses.Digit => 2000 + 300 * cpLen
    case _ => 4000 + 1000 * cpLen
  }

  final val SearchKanjiLen = 3 // kanji tokens this long or longer are penalized
  final val SearchKanjiPenalty = 2000
  final val SearchOtherLen = 7
  final val SearchOtherPenalty = 1500

  /** SEARCH/EXTENDED-mode long-token penalty (the Kuromoji search-mode
    * heuristic: long tokens pay per extra character so the lattice prefers
    * decomposing compounds into known sub-words when they exist).
    */
  def searchPenalty(allKanji: Boolean, cpLen: Int): Int =
    if (allKanji && cpLen >= SearchKanjiLen) (cpLen - SearchKanjiLen + 1) * SearchKanjiPenalty
    else if (cpLen >= SearchOtherLen) (cpLen - SearchOtherLen + 1) * SearchOtherPenalty
    else 0
}
