"""Offline BPE vocabulary trainer — produces the committed merges table
the engine tokenizer broadcasts (lazyosm_spark/resources/bpe_merges.json).

Deterministic by construction: words iterate sorted, the next merge is
the (count, lexicographically-smallest-pair) maximum, training stops
when no adjacent pair occurs at least ``min_count`` times.  Re-running
on the same corpus reproduces the file byte-for-byte.

Training is OFFLINE tooling (a driver-side loop over the word-frequency
table is the textbook algorithm and the corpus fits trivially); the
ENGINE side — tokenize/detokenize in operators/tokenize.py — is the
distributed component and never trains.  At 100 TB the word-frequency
table itself would come from one Spark groupBy (documents -> words ->
counts, collected top-K), with this same loop over the collected
counts; the fixture corpus skips that step.

Usage:  python tools/train_bpe.py [corpus.parquet] [n_merges]
        python tools/train_bpe.py --from-spark [corpus.parquet] [n_merges]
Default corpus: /root/testdata/sf0.001/documents.parquet (TESTDATA.md).

``--from-spark`` is the at-scale path made concrete: the word-frequency
table comes from the DISTRIBUTED operators.tokenize.word_counts
(one groupBy, map-side partials) instead of the pandas loop, collected
vocab-side (words, not documents), then the identical merge loop runs.
Both paths produce the spec byte-for-byte (pytest pins it) — the
pandas loop exists only so the committed fixture vocab needs no JVM.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "lazyosm_spark", "resources", "bpe_merges.json")
END_WORD = "\u2581"  # non-ASCII sentinel: a literal marker can never
# appear in printable-ASCII input, so the round trip stays exact
# base alphabet: every printable ASCII char (space excluded — it is the
# word separator, never a symbol) + the end-of-word marker.  Characters
# outside the base map to <unk> at encode time.
BASE = [chr(c) for c in range(33, 127)]


def normalize(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def word_freqs(texts) -> dict[str, int]:
    freqs: dict[str, int] = {}
    for t in texts:
        norm = normalize(t)
        if not norm:
            continue
        for w in norm.split(" "):
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


def train(freqs: dict[str, int], n_merges: int, min_count: int = 2) -> list[tuple[str, str]]:
    words: dict[str, list[str]] = {w: list(w) + [END_WORD] for w in sorted(freqs)}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            f = freqs[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        best_n = max(counts.values())
        if best_n < min_count:
            break
        a, b = min(p for p, c in counts.items() if c == best_n)
        merges.append((a, b))
        merged = a + b
        for w, syms in words.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def spark_word_freqs(corpus: str) -> dict[str, int]:
    """The 100 TB path: distributed word counting via
    operators.tokenize.word_counts, collected vocab-side."""
    sys.path.insert(0, REPO)
    from lazyosm_spark import get_spark
    from lazyosm_spark.operators.tokenize import word_counts

    spark = get_spark(
        app="train_bpe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = spark.read.parquet(corpus).select("text")
    return {r["word"]: r["cnt"] for r in word_counts(docs).collect()}


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--from-spark"]
    corpus = args[0] if args else "/root/testdata/sf0.001/documents.parquet"
    n_merges = int(args[1]) if len(args) > 1 else 512
    if "--from-spark" in sys.argv:
        freqs = spark_word_freqs(corpus)
    else:
        texts = pd.read_parquet(corpus, columns=["text"])["text"]
        freqs = word_freqs(texts)
    merges = train(freqs, n_merges)
    tokens = ["<unk>"] + BASE + [END_WORD] + [a + b for a, b in merges]
    assert len(set(tokens)) == len(tokens), "duplicate token strings"
    spec = {
        "version": 1,
        "normalizer": "lower_trim_collapse_ws",
        "corpus": os.path.basename(os.path.dirname(corpus)) + "/" + os.path.basename(corpus),
        "n_words": len(freqs),
        "tokens": tokens,
        "merges": [list(m) for m in merges],
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    print(f"{OUT}: {len(tokens)} tokens, {len(merges)} merges over {len(freqs)} words")


if __name__ == "__main__":
    main()
