"""Property fuzz of the MinHash-LSH and SimHash dedup operators against
an independent brute-force oracle.

The registry oracle (`minhash_near_dups`) checks ONE fixed corpus; this
fuzz generates randomized corpora (seeded — deterministic in CI) with
planted exact dups, near-dups (word substitutions), unrelated docs, and
un-shingleable shorties, and re-derives the EXACT expected pair set in
pure Python: token md5 → shingle set → 8-perm signature → 4×2 banding →
candidate ∩ jaccard ≥ threshold.  At these sizes (~10² docs) the oracle
enumerates all O(n²) pairs — brute force is exact, nothing probabilistic
is waved through: a Spark pair set differing by ONE pair (banding drift,
perm constant drift, identity-guard regression) fails.

Mirrors functions/hashing.py's formulas; if those constants change this
oracle must change with them — that coupling is the point (the Spark SQL
and DuckDB forms are generated from the same definitions, and this is
the third, independent derivation).
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.hashing import MIX, P
from etl_olho_vivo_spark.operators import dedup

# --- pure-Python re-derivation (no Spark, no DuckDB) ---------------------


def _tok(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)


def _shingles(text: str) -> frozenset[int]:
    ws = [_tok(w) for w in text.split(" ")]
    if len(ws) < 3:
        return frozenset()
    return frozenset(
        ((ws[i] * MIX + ws[i + 1]) % P * MIX + ws[i + 2]) % P
        for i in range(len(ws) - 2)
    )


def _signature(sh: frozenset[int]) -> list[int]:
    return [
        min((s * (2 * k + 1) + 12345 * k + 1) % P for s in sh)
        for k in range(dedup.NUM_HASHES)
    ]


def _bands(sig: list[int]) -> set[tuple]:
    rpb = dedup.ROWS_PER_BAND
    return {
        (b, tuple(sig[b * rpb: (b + 1) * rpb]))
        for b in range(dedup.NUM_BANDS)
    }


def _expected_pairs(docs_a, docs_b, threshold, same_set):
    """Exact (id_lo, id_hi) → jaccard for LSH-candidate pairs ≥ threshold.

    ``same_set``: self-dedup (doc_a < doc_b over one set); else batch×store
    with the identity guard (doc_new != doc_old) and directed ids.
    """
    feats_a = {i: (_shingles(t)) for i, t in docs_a}
    feats_b = {i: (_shingles(t)) for i, t in docs_b}
    sigs_a = {i: _bands(_signature(s)) for i, s in feats_a.items() if s}
    sigs_b = {i: _bands(_signature(s)) for i, s in feats_b.items() if s}
    out = {}
    for ia, ba in sigs_a.items():
        for ib, bb in sigs_b.items():
            if same_set and not ia < ib:
                continue
            if not same_set and ia == ib:
                continue
            if not ba & bb:
                continue
            sa, sb = feats_a[ia], feats_b[ib]
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                out[(ia, ib)] = j
    return out


# --- corpus generator ----------------------------------------------------

_VOCAB = [f"w{i:02d}" for i in range(40)]


def _gen_corpus(rng: random.Random, n_base: int):
    docs = []
    nid = 0
    for _ in range(n_base):
        words = rng.choices(_VOCAB, k=rng.randint(3, 22))
        docs.append((nid, " ".join(words)))
        nid += 1
        roll = rng.random()
        if roll < 0.25:  # exact duplicate
            docs.append((nid, " ".join(words)))
            nid += 1
        elif roll < 0.6:  # near-dup: substitute 1-3 words
            mut = list(words)
            for _ in range(rng.randint(1, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(_VOCAB)
            docs.append((nid, " ".join(mut)))
            nid += 1
    # un-shingleable shorties must vanish, not crash or pair
    for _ in range(5):
        docs.append((nid, " ".join(rng.choices(_VOCAB, k=rng.randint(0, 2)))))
        nid += 1
    rng.shuffle(docs)
    return docs


def _collect_pairs(df, a: str, b: str):
    return {
        (r[a], r[b]): r["jaccard"] for r in df.collect()
    }


@pytest.mark.parametrize("seed,threshold", [(1, 0.5), (2, 0.3), (3, 0.7)])
def test_self_near_duplicates_match_bruteforce(spark, seed, threshold):
    rng = random.Random(seed)
    docs = _gen_corpus(rng, 60)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _collect_pairs(
        dedup.near_duplicates(df, threshold=threshold, persist=False),
        "doc_a", "doc_b",
    )
    want = _expected_pairs(docs, docs, threshold, same_set=True)
    assert set(got) == set(want), (
        f"pair-set mismatch: extra={set(got) - set(want)} "
        f"missing={set(want) - set(got)}"
    )
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12, (k, got[k], j)


@pytest.mark.parametrize("seed,threshold", [(11, 0.5), (12, 0.3)])
def test_incremental_near_duplicates_match_bruteforce(spark, seed, threshold):
    """Batch-vs-store kind, including the at-least-once identity guard:
    one batch doc reuses a store doc_id (a replayed write) and must match
    everything the oracle says EXCEPT itself."""
    rng = random.Random(seed)
    corpus = _gen_corpus(rng, 40)
    # batch: fresh ids ABOVE the corpus range + one near-dup of a corpus
    # doc + one doc replayed under its existing store id
    base = 10_000
    batch = [
        (base + i, " ".join(rng.choices(_VOCAB, k=rng.randint(3, 22))))
        for i in range(25)
    ]
    victim = next(d for d in corpus if len(d[1].split(" ")) >= 6)
    mut = victim[1].split(" ")
    mut[0] = "w00" if mut[0] != "w00" else "w01"
    batch.append((base + 100, " ".join(mut)))
    batch.append(victim)  # replay: same id, same text — identity guard

    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    store = dedup.minhash_signature(cdf).select("doc_id", "sh", "minhash")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    got = _collect_pairs(
        dedup.incremental_near_duplicates(
            new_docs=bdf, store=store, threshold=threshold, persist=False
        ),
        "doc_new", "doc_old",
    )
    want = _expected_pairs(batch, corpus, threshold, same_set=False)
    assert set(got) == set(want), (
        f"pair-set mismatch: extra={set(got) - set(want)} "
        f"missing={set(want) - set(got)}"
    )
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12, (k, got[k], j)
    # the replayed doc produced no self-pair but DID pair with its exact
    # twin if one exists — spot-check the guard actually bit
    assert (victim[0], victim[0]) not in got


def _py_simhash(text: str, bits: int) -> int:
    """Mirror operators/dedup.simhash: frequency-weighted sign-fold of
    md5 token hashes (token MULTISET — repeats weigh more)."""
    ws = [_tok(w) for w in text.split(" ")]
    h = 0
    for j in range(bits):
        s = sum(1 if (w >> j) & 1 else -1 for w in ws)
        if s > 0:
            h |= 1 << j
    return h


@pytest.mark.parametrize(
    "seed,max_hamming,store",
    [
        pytest.param(21, 3, False, id="21-3"),
        pytest.param(22, 2, False, id="22-2"),
        pytest.param(23, 3, True, id="store-23-3"),
    ],
)
def test_simhash_near_dups_match_bruteforce(spark, seed, max_hamming, store):
    """The pigeonhole banding (Manku WWW'07) is LOSSLESS for hamming ≤
    n_bands − 1, so the exact expected output is ALL pairs with
    bit_count(xor) ≤ max_hamming — no probabilistic allowance.  A single
    missing pair means the banding construction regressed; a single
    extra pair means verification regressed.

    ``store``: the incremental leg — a new batch against a fingerprint
    store, with one store doc replayed under its own id (the
    ``doc_new != doc_old`` guard) — with and without the pair de-dup."""
    rng = random.Random(seed)
    docs = _gen_corpus(rng, 50)
    bits = dedup.SIMHASH_NEAR_DUP_BITS
    sims = {i: _py_simhash(t, bits) for i, t in docs}
    schema = "doc_id long, text string"
    if store:
        corpus, batch = docs[: len(docs) // 2], docs[len(docs) // 2:]
        batch = [*batch, corpus[0]]  # replayed write: same id, same text
        want = {}
        for a, _ in batch:
            for b, _ in corpus:
                d = bin(sims[a] ^ sims[b]).count("1")
                if a != b and d <= max_hamming:
                    want[(a, b)] = d
        assert want, "fixture should plant batch-vs-store near-dups"

        def fps(rows):
            return dedup.simhash(
                spark.createDataFrame(rows, schema), bits=bits
            ).select("doc_id", "simhash")

        for dedup_pairs in (True, False):
            rows = [
                ((r["doc_new"], r["doc_old"]), r["hamming"])
                for r in dedup.hamming_near_dups_incremental(
                    fps(batch), fps(corpus), hash_col="simhash", bits=bits,
                    max_hamming=max_hamming, n_bands=4,
                    dedup_pairs=dedup_pairs,
                ).collect()
            ]
            assert all(want.get(k) == d for k, d in rows), rows
            assert {k for k, _ in rows} == set(want)
            if dedup_pairs:
                assert len(rows) == len(want)
        return
    want = {}
    ids = sorted(sims)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            d = bin(sims[a] ^ sims[b]).count("1")
            if d <= max_hamming:
                want[(a, b)] = d
    df = spark.createDataFrame(docs, schema)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dups(
            df, max_hamming=max_hamming
        ).collect()
    }
    assert got == want, (
        f"extra={set(got) - set(want)} missing={set(want) - set(got)}"
    )


def test_fuzz_jaccard_is_true_shingle_jaccard(spark):
    """Returned jaccard equals the set-theoretic value on word-3-gram
    sets — not an estimate from the signature (soundness: no pair is
    admitted on LSH evidence alone)."""
    rng = random.Random(99)
    docs = _gen_corpus(rng, 30)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _collect_pairs(
        dedup.near_duplicates(df, threshold=0.3, persist=False),
        "doc_a", "doc_b",
    )
    feats = {i: _shingles(t) for i, t in docs}
    for (a, b), j in got.items():
        sa, sb = feats[a], feats[b]
        truth = len(sa & sb) / len(sa | sb)
        assert abs(j - truth) < 1e-12


# --- n-gram Jaccard blocked pair query ------------------------------------


def _bigrams(text: str) -> frozenset[int]:
    ws = [_tok(w) for w in text.split(" ")]
    if len(ws) < 2:
        return frozenset()
    return frozenset(
        (ws[i] * MIX + ws[i + 1]) % P for i in range(len(ws) - 1)
    )


@pytest.mark.parametrize("seed", [31, 32])
def test_ngram_jaccard_pairs_match_bruteforce(spark, seed, tmp_path):
    """The registered ngram query's neighbor-bucket explode must find
    EXACTLY the pairs the plain |Δn_chars| ≤ 20 block predicate admits —
    a bucket-boundary off-by-one (pair straddling floor(n/20) buckets)
    would drop pairs silently.  Texts get fine-grained length variation
    so many qualifying pairs straddle bucket edges."""
    from etl_olho_vivo_spark.caching import release_session_caches

    rng = random.Random(seed)
    docs = []
    nid = 0
    for _ in range(50):
        words = rng.choices(_VOCAB, k=rng.randint(2, 18))
        base = " ".join(words)
        # pad with single-char words to steer n_chars across bucket edges
        base += " " + " ".join(rng.choices("abcdefg", k=rng.randint(0, 6)))
        docs.append((nid, base))
        nid += 1
        if rng.random() < 0.5:  # near/exact dup with slight length drift
            mut = list(base.split(" "))
            if rng.random() < 0.5:
                mut[rng.randrange(len(mut))] = rng.choice(_VOCAB)
            docs.append((nid, " ".join(mut)))
            nid += 1
    sources = ["web", "book"]
    rows = [
        (i, t, "en", sources[i % 2], len(t)) for i, t in docs
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from etl_olho_vivo_spark import registry

    registry.queries()
    try:
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in registry.REGISTRY["ngram_jaccard_pairs"]
            .fn(spark, str(tmp_path))
            .collect()
        }
    finally:
        release_session_caches()

    feats = {i: _bigrams(t) for i, t, *_ in rows}
    meta = {i: (s, nc) for i, _, _, s, nc in rows}
    want = {}
    ids = sorted(feats)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            (sa, na), (sb, nb) = meta[a], meta[b]
            if sa != sb or abs(na - nb) > 20:
                continue
            fa, fb = feats[a], feats[b]
            if not fa and not fb:
                continue
            inter = len(fa & fb)
            union = len(fa) + len(fb) - inter
            if union and 13 * inter >= 3 * (len(fa) + len(fb)):
                want[(a, b)] = inter / union
    assert set(got) == set(want), (
        f"extra={set(got) - set(want)} missing={set(want) - set(got)}"
    )
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12, (k, got[k], j)
