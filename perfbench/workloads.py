"""Seeded inputs and output oracles for the benchmark workloads.

Everything here is plain Python: inputs are generated from the seed alone,
and expected outputs are computed without Spark, so an output check never
trusts the code path it is checking.

* ``extract_resume``: a ``bench.py``-shaped scanned corpus (all 13
  ``corpus.CLASSES`` round-robin, one 120-page ``image_only`` doc in every
  100). Even-numbered docs are committed by ``SEED_RUNS`` earlier runs of
  the job during set-up; the timed job resolves the odd-numbered half,
  which holds every huge doc, so the salted OCR exchange has real skew.
* ``dedup_neardup``: flat ``(doc_id, text, source)`` docs over a wide
  vocabulary with a planted near-duplicate structure that does not depend
  on the seed (only the texts do). The generator re-draws texts until the
  pair predicates of ``run_dedup_job`` (MinHash band collision + exact
  shingle Jaccard, or SimHash Hamming distance) find exactly the planted
  edges, so the job's counts and kept ids are the same for every seed.
"""

from __future__ import annotations

import hashlib
import json
import random

from pdf2pdfocr_spark import corpus, oracle

# ---------------------------------------------------------------------------
# extract_resume
# ---------------------------------------------------------------------------

EXTRACT_DOCS = 200
HUGE_EVERY = 100
HUGE_PAGES = 120
SEED_RUNS = 2  # committed runs that set-up appends before the timed job


def scanned_corpus(seed: int, n_docs: int = EXTRACT_DOCS) -> list:
    """bench.py's corpus shape with a caller-chosen seed."""
    rows = []
    for i in range(n_docs):
        huge = i % HUGE_EVERY == HUGE_EVERY - 1
        cls = "image_only" if huge else corpus.CLASSES[i % len(corpus.CLASSES)]
        rows.append(corpus.synth_document(
            f"doc-{i:09d}", cls, seed, HUGE_PAGES if huge else None
        ))
    return rows


def split_done(rows: list, runs: int = SEED_RUNS) -> tuple[list, list]:
    """(chunks committed by the prior runs, docs the timed job resolves)."""
    done = rows[0::2]
    return [done[k::runs] for k in range(runs)], rows[1::2]


def span_digest(spans: list) -> str:
    """md5 over the span sequence; ``run.ExtractResume._check`` computes
    the same string in Spark."""
    body = "\x01".join(
        "\x02".join((s["kind"], s["text"], s["media_ref"], str(s["offset"])))
        for s in spans
    )
    return hashlib.md5(body.encode("utf-8")).hexdigest()


def extraction_digest(landed: list, quarantined: list) -> str:
    """Order-independent digest of landed (doc_id, span md5) plus
    quarantined (doc_id, skip_reason) pairs."""
    lines = sorted(f"L\t{d}\t{m}" for d, m in landed)
    lines += sorted(f"Q\t{d}\t{r}" for d, r in quarantined)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def expected_extraction(rows: list, prior: list) -> str:
    """Digest the oracle expects from a resumed extraction over ``rows``
    after ``prior`` docs went through earlier runs. Only the docs those
    runs landed are done; the ones they quarantined are tried again."""
    results = oracle.extract_corpus(rows, oracle.PipelineConfig())
    done = {
        r["doc_id"] for r in prior if results[r["doc_id"]]["skip_reason"] is None
    }
    todo = [r for d, r in results.items() if d not in done]
    landed = [(r["doc_id"], span_digest(r["spans"]))
              for r in todo if r["skip_reason"] is None]
    quarantined = [(r["doc_id"], r["skip_reason"])
                   for r in todo if r["skip_reason"] is not None]
    return extraction_digest(landed, quarantined)


# ---------------------------------------------------------------------------
# dedup_neardup
# ---------------------------------------------------------------------------

DEDUP_DOCS = 600
WORDS_PER_DOC = 48
VOCAB_SIZE = 50_000
PAIR_CLUSTERS = 50    # base + 1 near copy
TRIPLE_CLUSTERS = 20  # base + 2 near copies, all three pairs similar
CHAINS = 2            # edit chains: only neighbours are similar
CHAIN_LEN = 16
CLUSTER_EDITS = 2     # words replaced in a near copy
CHAIN_EDITS = 4       # words replaced per chain step
SHARD_BUCKETS = 64    # run_dedup_job defaults the predicates mirror
NUM_HASHES, BANDS, SHINGLE_N = 16, 4, 3
JACCARD_MIN, MAX_HAMMING, SIMHASH_BITS = 0.5, 3, 32


def _vocabulary() -> list:
    rng = random.Random("perfbench-vocab")
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(5, 9))))
    return sorted(words)


def _structure() -> list:
    """Seed-independent clusters as lists of doc positions; a chain is
    ordered. Positions come from a fixed shuffle so clusters scatter over
    the id range and the kept doc is not always the first member."""
    pos = list(range(DEDUP_DOCS))
    random.Random("perfbench-structure").shuffle(pos)
    clusters, i = [], 0
    for size, count in ((2, PAIR_CLUSTERS), (3, TRIPLE_CLUSTERS),
                        (CHAIN_LEN, CHAINS)):
        for _ in range(count):
            clusters.append(pos[i:i + size])
            i += size
    return clusters + [[p] for p in pos[i:]]


def doc_id(pos: int) -> str:
    return f"nd-{pos:06d}"


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


class Signature:
    """One text's MinHash bands, shingle set and SimHash, computed the way
    ``operators.dedup`` computes them (md5-derived, lower-cased tokens)."""

    def __init__(self, text: str):
        toks = text.lower().split()
        n = SHINGLE_N
        self.shingles = (
            {" ".join(toks)} if len(toks) < n
            else {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        )
        mins = [
            min(_md5_long(f"{k}|{s}") for s in self.shingles)
            for k in range(NUM_HASHES)
        ]
        r = NUM_HASHES // BANDS
        self.bands = [tuple(mins[b * r:(b + 1) * r]) for b in range(BANDS)]
        votes = [0] * SIMHASH_BITS
        for t in toks:
            h = _md5_long(t)
            for b in range(SIMHASH_BITS):
                votes[b] += 1 if (h >> b) & 1 else -1
        self.simhash = sum(1 << b for b in range(SIMHASH_BITS) if votes[b] > 0)

    def near(self, other: "Signature") -> bool:
        """True when run_dedup_job emits this pair."""
        if bin(self.simhash ^ other.simhash).count("1") <= MAX_HAMMING:
            return True
        if not any(a == b for a, b in zip(self.bands, other.bands)):
            return False
        inter = len(self.shingles & other.shingles)
        union = len(self.shingles | other.shingles)
        return round(inter / union, 6) >= JACCARD_MIN


class _Index:
    """SimHash pigeonhole index for the cross-cluster collision check.
    Unrelated texts share no shingles, so only SimHash can pair them."""

    def __init__(self):
        self.buckets: dict = {}

    def _keys(self, sig: Signature):
        width = SIMHASH_BITS // (MAX_HAMMING + 1)
        for c in range(MAX_HAMMING + 1):
            yield c, (sig.simhash >> (c * width)) & ((1 << width) - 1)

    def collides(self, sig: Signature, cluster: int) -> bool:
        for key in self._keys(sig):
            for other_cluster, other in self.buckets.get(key, ()):
                if other_cluster != cluster and sig.near(other):
                    return True
        return False

    def add(self, sig: Signature, cluster: int) -> None:
        for key in self._keys(sig):
            self.buckets.setdefault(key, []).append((cluster, sig))


def _edit(rng: random.Random, words: list, vocab: list, k: int) -> list:
    out = list(words)
    for i in rng.sample(range(len(out)), k):
        out[i] = rng.choice(vocab)
    return out


def _cluster_texts(rng, vocab, index, cid, size, chain) -> list:
    """Texts for one cluster whose detected pairs are exactly the planted
    ones (all pairs for a small cluster, neighbours only for a chain)."""
    while True:
        base = [rng.choice(vocab) for _ in range(WORDS_PER_DOC)]
        sig = Signature(" ".join(base))
        if index.collides(sig, cid):
            continue
        words, sigs = [base], [sig]
        for _ in range(200):
            if len(words) == size:
                return [" ".join(w) for w in words], sigs
            src = words[-1] if chain else base
            cand = _edit(rng, src, vocab, CHAIN_EDITS if chain else CLUSTER_EDITS)
            csig = Signature(" ".join(cand))
            if chain:
                ok = csig.near(sigs[-1]) and not any(
                    csig.near(s) for s in sigs[:-1]
                )
            else:
                ok = all(csig.near(s) for s in sigs)
            if ok and not index.collides(csig, cid):
                words.append(cand)
                sigs.append(csig)
        # a rare dead end: draw the cluster again from a new base


def neardup_corpus(seed: int) -> list:
    """[(doc_id, text, source)] in doc_id order."""
    rng = random.Random(f"perfbench-dedup-{seed}")
    vocab = _vocabulary()
    index = _Index()
    texts: dict = {}
    for cid, members in enumerate(_structure()):
        chain = len(members) == CHAIN_LEN
        member_texts, sigs = _cluster_texts(
            rng, vocab, index, cid, len(members), chain
        )
        for pos, text, sig in zip(members, member_texts, sigs):
            texts[pos] = text
            index.add(sig, cid)
    return [
        (doc_id(p), texts[p], f"src-{p % 4}") for p in range(DEDUP_DOCS)
    ]


def expected_dedup() -> dict:
    """Counts and kept ids ``run_dedup_job`` must return for any seed,
    derived from the planted structure alone."""
    clusters = _structure()
    edges = sum(
        len(c) - 1 if len(c) == CHAIN_LEN else len(c) * (len(c) - 1) // 2
        for c in clusters
    )
    kept = sorted(min(doc_id(p) for p in c) for c in clusters)
    dropped = DEDUP_DOCS - len(kept)
    shards = len({_md5_long(d) % SHARD_BUCKETS for d in kept})
    return {
        "counts": {
            "docs_in": DEDUP_DOCS,
            "dup_pairs": edges,
            "docs_dropped": dropped,
            "docs_kept": len(kept),
            "docs_sampled": len(kept),
            "shards": shards,
            "minhash_overflow_buckets": 0,
            "simhash_overflow_buckets": 0,
        },
        "kept_digest": ids_digest(kept),
    }


def ids_digest(ids) -> str:
    return hashlib.sha256("\n".join(sorted(ids)).encode("utf-8")).hexdigest()


def input_digest(workload: str, seed: int) -> str:
    """Digest of a workload's generated input (determinism tests)."""
    rows = scanned_corpus(seed) if workload == "extract_resume" else neardup_corpus(seed)
    blob = json.dumps(rows, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()
