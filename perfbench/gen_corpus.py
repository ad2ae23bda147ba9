"""Seeded synthetic corpus for the index_xo and curate workloads.

Documents are English-like sentences over a Zipf vocabulary of made-up
words mixed with real English stopwords (so the heuristic language id
and the quality filter see English). A corpus can carry planted shares
of exact duplicates, near duplicates, German-stopword documents and
documents that repeat one phrase; the manifest lists the planted ids so
the checks know what the pipeline must remove. `run.py` calls
`generate(seed, docs, ...)` and writes the result as JSON lines.
"""
import bisect
import itertools
import json
import random

EN_STOPS = ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with",
            "be", "have"]
DE_STOPS = ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine",
            "nicht"]
SYLLABLES = ["ka", "lo", "mi", "ren", "tor", "sa", "vel", "dun", "pri", "sto",
             "ba", "nel", "qui", "ram", "zo", "fen", "gil", "har", "jum", "wex"]


def vocabulary(rng, size):
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_cdf(n, s):
    weights = [1.0 / (r ** s) for r in range(1, n + 1)]
    return list(itertools.accumulate(weights))


class Corpus:
    """Draws documents; every draw comes from one seeded generator, so a
    seed and the size parameters fix the corpus byte for byte."""

    def __init__(self, seed, vocab=6000, zipf_s=1.1, mean_len=90):
        self.rng = random.Random(seed)
        self.words = vocabulary(self.rng, vocab)
        self.cdf = zipf_cdf(vocab, zipf_s)
        self.mean_len = mean_len

    def word(self):
        x = self.rng.random() * self.cdf[-1]
        return self.words[bisect.bisect_left(self.cdf, x)]

    def length(self):
        n = int(self.rng.lognormvariate(0.0, 0.45) * self.mean_len)
        return max(24, min(n, 6 * self.mean_len))

    def tokens(self, stops):
        out = []
        for i in range(self.length()):
            out.append(self.rng.choice(stops) if self.rng.random() < 0.3
                       else self.word())
        return out

    def text(self, toks):
        # a sentence break every ~12 words keeps punctuation realistic
        parts, sent = [], []
        for t in toks:
            sent.append(t)
            if len(sent) >= 12 and self.rng.random() < 0.25:
                parts.append(" ".join(sent) + ".")
                sent = []
        if sent:
            parts.append(" ".join(sent) + ".")
        return " ".join(parts).capitalize()

    def near_copy(self, text):
        toks = text.split(" ")
        for _ in range(max(1, len(toks) // 60)):
            toks[self.rng.randrange(len(toks))] = self.word()
        return " ".join(toks)

    def repetitive(self):
        phrase = " ".join(self.word() for _ in range(self.rng.randint(3, 5)))
        return " ".join([phrase + " the end."] * self.rng.randint(15, 30))


def generate(seed, docs, exact=0.0, near=0.0, non_en=0.0, rep=0.0,
             mean_len=90, vocab=6000):
    """Returns (docs, manifest, corpus): docs is a list of (doc_id, text);
    a planted copy always gets a higher id than its original, so
    keep-min-id dedup keeps the original; `corpus` draws the queries."""
    c = Corpus(seed, vocab=vocab, mean_len=mean_len)
    out, originals = [], []
    manifest = {"exact_copies": [], "near_copies": [], "non_en": [],
                "repetitive": []}
    for i in range(docs):
        r = c.rng.random()
        if originals and r < exact:
            out.append((i, out[c.rng.choice(originals)][1]))
            manifest["exact_copies"].append(i)
        elif originals and r < exact + near:
            out.append((i, c.near_copy(out[c.rng.choice(originals)][1])))
            manifest["near_copies"].append(i)
        elif r < exact + near + non_en:
            out.append((i, c.text(c.tokens(DE_STOPS))))
            manifest["non_en"].append(i)
        elif r < exact + near + non_en + rep:
            out.append((i, c.repetitive()))
            manifest["repetitive"].append(i)
        else:
            out.append((i, c.text(c.tokens(EN_STOPS))))
            originals.append(i)
    return out, manifest, c


def queries(c, n):
    """BM25 query set: 2-4 vocabulary words each, drawn with the same
    Zipf skew as the documents."""
    return [(q, " ".join(c.word() for _ in range(c.rng.randint(2, 4))))
            for q in range(n)]


def write_jsonl(path, rows, names):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(names, r))) + "\n")

