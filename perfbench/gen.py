"""Seeded input generator for the graft benchmark.

Every input a workload reads is written here, as parquet with the
`documents.parquet` schema (doc_id, text, lang, source, n_chars), from a
`random.Random(seed)` and nothing else: the same seed gives byte-identical
inputs. Text is drawn from the 30-word vocabulary of the sf testdata
documents; words are never suffixed, so the per-language marker words the
pipelines' language id keys on stay intact.

Planted duplicates come in two kinds, always under new ids:
  - exact re-sends: the text of an earlier document, byte for byte;
  - near-dup edits: an earlier document with one non-marker word replaced,
    chosen from documents of at least NEAR_MIN_WORDS words so the 3-shingle
    Jaccard with the original stays near 0.9 (above the 0.8 threshold).
Originals are chosen among documents that pass the pipelines' pre-gate
filters (language id = en, quality >= 0.5, blocklist), replicated below
from the q_pretrain_* oracle SQL, so every planted duplicate reaches the
dedup gates.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

MARKERS = {
    "de": ("window", "group", "sort"),
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "row", "query"),
    "fr": ("table", "batch", "merge"),
    "zh": ("spark", "hash", "scan"),
}
MARKER_WORDS = {w for ws in MARKERS.values() for w in ws}
PLAIN = ("column", "vector", "stream", "value", "small", "join", "filter",
         "big", "customer", "order", "line", "part", "agg", "key")
VOCAB = tuple(sorted(MARKER_WORDS)) + PLAIN
STOPWORDS = ("the", "a")
BLOCKLIST = ("slow merge", "zzqq")
NEAR_MIN_WORDS = 40


def lang_of(words):
    n = len(words)
    s = {k: sum(w in ws for w in words) / n for k, ws in MARKERS.items()}
    if s["zh"] > max(s["de"], s["en"], s["es"], s["fr"]):
        return "zh"
    if s["fr"] > max(s["de"], s["en"], s["es"]):
        return "fr"
    if s["es"] > max(s["de"], s["en"]):
        return "es"
    return "en" if s["en"] > s["de"] else "de"


def passes_filters(text):
    """The pretrain chains' keep rule before the dedup gates."""
    ws = text.split(" ")
    if lang_of(ws) != "en":
        return False
    q = (min(len(text) / 500.0, 1.0)
         + min(sum(w in STOPWORDS for w in ws) / len(ws) * 5.0, 1.0)
         + len(set(ws)) / len(ws)) / 3.0
    return q >= 0.5 and not any(b in text for b in BLOCKLIST)


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self._passes = {}

    def passes(self, i, text):
        if i not in self._passes:
            self._passes[i] = passes_filters(text)
        return self._passes[i]

    def text(self, lo=10, hi=100, en_bias=0.6):
        """Uniform words, or (with probability en_bias) English-leaning:
        the English markers drawn three times as often."""
        n = self.rng.randint(lo, hi)
        if self.rng.random() < en_bias:
            pool = VOCAB + MARKERS["en"] * 2
        else:
            pool = VOCAB
        return " ".join(self.rng.choice(pool) for _ in range(n))

    def near_edit(self, text):
        """Replace one non-marker word with another non-marker word: the
        language scores, stopword share and blocklist verdict are unchanged."""
        ws = text.split(" ")
        pos = [i for i, w in enumerate(ws) if w not in MARKER_WORDS]
        i = self.rng.choice(pos)
        ws[i] = self.rng.choice([w for w in PLAIN if w != ws[i]])
        return " ".join(ws)

    def plant(self, pool, n_exact, n_near, used):
        """Draw planted duplicates of documents in `pool` (list of
        (id, text)); each original is used at most once across the run."""
        ok = [(i, t) for i, t in pool if i not in used and self.passes(i, t)]
        self.rng.shuffle(ok)
        exact, near = [], []
        for i, t in ok:
            if len(exact) < n_exact:
                exact.append((i, t))
            elif len(near) < n_near and len(t.split(" ")) >= NEAR_MIN_WORDS:
                e = self.near_edit(t)
                if passes_filters(e) and e != t:
                    near.append((i, e))
            else:
                continue
            used.add(i)
            if len(exact) == n_exact and len(near) == n_near:
                break
        return exact, near


def write_docs(path, rows):
    """rows: list of (doc_id, text) -> documents.parquet schema."""
    ids = [r[0] for r in rows]
    texts = [r[1] for r in rows]
    t = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([lang_of(x.split(" ")) for x in texts], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)


def _batched(g, start_id, batches, first, fresh, n_exact, n_near):
    """Day/tick batches: batch 0 is `first` fresh docs only; every later
    batch holds `fresh` fresh docs plus planted duplicates of earlier
    batches' docs. Returns (batches, planted) with planted =
    [{id, of, kind, batch}]."""
    nid, out, planted, seen, used = start_id, [], [], [], set()
    for b in range(batches):
        rows = []
        for _ in range(first if b == 0 else fresh):
            rows.append((nid, g.text()))
            nid += 1
        if b > 0:
            exact, near = g.plant(seen, n_exact, n_near, used)
            for kind, picks in (("exact", exact), ("near", near)):
                for of, t in picks:
                    rows.append((nid, t))
                    planted.append({"id": nid, "of": of, "kind": kind, "batch": b})
                    nid += 1
        g.rng.shuffle(rows)
        seen.extend(rows)
        out.append(rows)
    return out, planted


def _write_batches(root, prefix, batches):
    out = []
    for i, rows in enumerate(batches):
        p = f"{root}/{prefix}-{i:03d}.parquet"
        write_docs(p, rows)
        out.append({"path": p, "docs": len(rows)})
    return out


def generate(workload, seed, root, params):
    """Write the workload's inputs under root; return the manifest that
    describes them (also written as root/inputs.json)."""
    g = Gen(seed)
    man = {"workload": workload, "seed": seed, "params": params}
    if workload == "corpus_refresh":
        heldout = [(i, g.text()) for i in range(params["heldout"])]
        write_docs(f"{root}/heldout.parquet", heldout)
        days, planted = _batched(g, 1_000_000, params["days"], params["fresh"],
                                 params["fresh"], params["exact"], params["near"])
        man["batches"] = _write_batches(root, "day", days)
        man["planted"] = planted
    elif workload == "rag_live":
        # tick 0 is the initial corpus the set-up ingests
        ticks, planted = _batched(g, 0, params["ticks"] + 1, params["initial"],
                                  params["fresh"], params["exact"], params["near"])
        man["batches"] = _write_batches(root, "tick", ticks)
        man["planted"] = planted
        qs = []
        for q in range(params["queries"]):
            ws = g.rng.choice(ticks[0])[1].split(" ")
            j = g.rng.randrange(max(1, len(ws) - params["query_words"]))
            qs.append((q, " ".join(ws[j:j + params["query_words"]])))
        write_docs(f"{root}/queries.parquet", qs)
    elif workload == "corpus_rebuild":
        n = params["docs"]
        rows = [(i, g.text()) for i in range(n)]
        # originals: non-heldout docs (id % 17 != 0); duplicates take new
        # ids above n that are not heldout either, so the smallest-id keep
        # rule keeps the original
        pool = [r for r in rows if r[0] % 17 != 0]
        exact, near = g.plant(pool, params["exact"], params["near"], set())
        nid, planted = n, []
        for kind, picks in (("exact", exact), ("near", near)):
            for of, t in picks:
                while nid % 17 == 0:
                    nid += 1
                rows.append((nid, t))
                planted.append({"id": nid, "of": of, "kind": kind, "batch": 0})
                nid += 1
        write_docs(f"{root}/documents.parquet", rows)
        man["planted"] = planted
        man["batches"] = [{"path": f"{root}/documents.parquet", "docs": len(rows)}]
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{root}/inputs.json", "w") as f:
        json.dump(man, f)
    return man
