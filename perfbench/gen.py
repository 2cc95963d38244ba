"""Seeded corpus generator for the `ja_tokenize` workload.

The corpus is a pure function of the seed: CORPUS_CHARS characters of
documents assembled only from in-repo text (the golden and held-out
tokenizer corpora under src/main/resources and the `documents` text of the
benchmark's tables in perfbench/data/), plus synthetic unknown
katakana/kanji runs and punctuation-free regions longer than the 4,096-char
lattice chunk. Run from the repository root. Written
as corpus.jsonl (the canonical, byte-comparable form) and corpus.parquet/
(what Spark reads, in eight files). The tables themselves are not
generated: they are the SF 0.001 test tables, committed under
perfbench/data/sf0.001.

Usage: python3 perfbench/gen.py --seed N --out DIR
Prints one JSON line with the corpus statistics (docs, chars, script mix).
"""
import argparse
import glob
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JA_RESOURCES = "src/main/resources/graft/ja"
SF = 0.001
TABLES = os.path.join("perfbench", "data", f"sf{SF}")
CORPUS_CHARS = 1_000_000


def ja_sentences():
    """Every sentence of the in-repo tokenizer corpora, in a fixed order."""
    files = [os.path.join(JA_RESOURCES, "golden_corpus.tsv")] + sorted(
        glob.glob(os.path.join(JA_RESOURCES, "heldout_corpus*.tsv")))
    out = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line and not line.startswith("#"):
                    out.append(line.split("\t", 1)[0])
    return out


CORPUS_PARTS = 8
PUNCT = set("。、！？「」『』（）・…　 ,.!?()")


def _katakana(r, n):
    return "".join(chr(r.randint(0x30A1, 0x30F6)) for _ in range(n))


def _kanji(r, n):
    return "".join(chr(r.randint(0x4E00, 0x9FA5)) for _ in range(n))


# Share of the corpus characters each kind of document gets. Fixed, so that
# the tokenizer's work per pass varies little from seed to seed.
KINDS = (("query", 0.10), ("paragraph", 0.60), ("mixed", 0.15), ("long", 0.15))


def _doc(kind, r, sentences, doc_texts):
    if kind == "query":  # one sentence, or a fragment of one
        s = r.choice(sentences)
        return s if r.random() < 0.6 else s[:r.randint(2, max(2, len(s) - 1))]
    if kind == "paragraph":  # 3-24 sentences with unknown katakana/kanji runs
        parts = [r.choice(sentences) for _ in range(r.randint(3, 24))]
        for _ in range(r.randint(0, 3)):
            run = _katakana if r.random() < 0.5 else _kanji
            parts.insert(r.randint(0, len(parts)), run(r, r.randint(2, 12)) + "。")
        return "".join(parts)
    if kind == "mixed":  # a `documents` text between two sentences
        return r.choice(sentences) + " " + r.choice(doc_texts) + " " + r.choice(sentences)
    # one punctuation-free region over 4,096 chars: the lattice chunk path
    parts, n, size = [], 0, r.randint(4200, 6000)
    while n < size:
        s = "".join(c for c in r.choice(sentences) if c not in PUNCT)
        if r.random() < 0.1:
            s += _katakana(r, r.randint(3, 10))
        parts.append(s)
        n += len(s)
    return "".join(parts)


def corpus(seed, sentences, doc_texts, target_chars):
    """Documents of every kind in KINDS, shuffled."""
    r = random.Random(seed)
    docs = []
    for kind, share in KINDS:
        n = 0
        while n < share * target_chars:
            docs.append(_doc(kind, r, sentences, doc_texts))
            n += len(docs[-1])
    r.shuffle(docs)
    return docs


def script_mix(docs):
    counts = {"hiragana": 0, "katakana": 0, "kanji": 0, "latin": 0,
              "digit": 0, "space": 0, "other": 0}
    for t in docs:
        for c in t:
            o = ord(c)
            if 0x3041 <= o <= 0x309F:
                counts["hiragana"] += 1
            elif 0x30A0 <= o <= 0x30FF:
                counts["katakana"] += 1
            elif 0x4E00 <= o <= 0x9FFF:
                counts["kanji"] += 1
            elif c.isascii() and c.isalpha():
                counts["latin"] += 1
            elif c.isdigit():
                counts["digit"] += 1
            elif c.isspace():
                counts["space"] += 1
            else:
                counts["other"] += 1
    n = max(sum(counts.values()), 1)
    return {k: round(v / n, 4) for k, v in counts.items()}


def write_corpus(docs, out_dir):
    """corpus.jsonl, plus corpus.parquet as CORPUS_PARTS files so that Spark
    reads it as that many splits rather than one."""
    with open(os.path.join(out_dir, "corpus.jsonl"), "w", encoding="utf-8", newline="\n") as fh:
        for i, t in enumerate(docs):
            fh.write(json.dumps({"doc_id": i, "text": t}, ensure_ascii=False) + "\n")
    pdir = os.path.join(out_dir, "corpus.parquet")
    os.makedirs(pdir, exist_ok=True)
    bounds = [len(docs) * i // CORPUS_PARTS for i in range(CORPUS_PARTS + 1)]
    for i in range(CORPUS_PARTS):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(pa.table({"doc_id": np.arange(lo, hi, dtype=np.int64), "text": docs[lo:hi]}),
                       os.path.join(pdir, f"part-{i:05d}.parquet"))


def generate(seed, out_dir):
    """Write the corpus into out_dir; return its statistics."""
    os.makedirs(out_dir, exist_ok=True)
    doc_texts = pq.read_table(os.path.join(TABLES, "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
    docs = corpus(seed, ja_sentences(), doc_texts, CORPUS_CHARS)
    write_corpus(docs, out_dir)
    stats = {"seed": seed, "docs": len(docs), "chars": sum(len(d) for d in docs),
             "long_regions": sum(1 for d in docs if len(d) > 4096),
             "script_mix": script_mix(docs)}
    with open(os.path.join(out_dir, "corpus_stats.json"), "w") as fh:
        json.dump(stats, fh, sort_keys=True)
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out)))


if __name__ == "__main__":
    main()
