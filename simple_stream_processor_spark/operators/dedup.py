"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding near-dup.

Scale design (the reason these exist as *distributed* compositions):
- Exact dedup: hash-groupBy on a content digest — shuffle volume bounded by
  #distinct digests; no text comparison ever crosses the wire.
- MinHash+LSH: the O(n²) pair space is never materialized. Shingles →
  per-doc signature (one shuffle), signatures → band buckets (narrow),
  candidate pairs only where a band collides (self-join on band value —
  shuffle proportional to collisions, not n²), then exact Jaccard verify on
  the candidates only.
- SimHash: 60-bit signature per doc from token hashes (one aggregation);
  Hamming-ball candidate generation via 4×15-bit bands (pigeonhole: any
  pair within distance 3 shares ≥1 exact band).
- Embedding near-dup: candidate blocking on a coarse partition (label —
  stand-in for an IVF centroid id), cosine verify within blocks only.

Determinism contract (oracle parity): hashing is md5-hex (identical in
Spark and DuckDB); 60-bit ints come from the first 15 hex chars via
base-16 conv (fits signed 64); min/argmin on hex strings is byte-order
lexicographic in both engines.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_stream_processor_spark.registry import scoped_persist

N_MINHASH = 8  # 8 hash functions → 2 bands × 4 rows (threshold ≈ (1/2)^(1/4) ≈ 0.84 per-band)
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits in signed BIGINT


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a text column (array<string>).

    Built as a zip_with fold over k shifted slices of the token array —
    ~6x faster than transform(sequence, element_at) (indexed element_at
    inside a lambda defeats codegen; slice+zip_with stays vectorized).
    Guarded for docs shorter than k tokens (empty list, matching DuckDB's
    empty range())."""
    t = F.split(text_col, " ")
    length = F.size(t) - k + 1
    acc = F.slice(t, 1, length)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(t, j + 1, length), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(t) >= k, F.array_distinct(acc)).otherwise(F.array().cast("array<string>"))


def shingle_table(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded table — the working set for MinHash and
    exact-Jaccard verification.

    Repartition on doc_id FIRST: a small parquet scan is often a single
    partition, which would serialize all the explode+hash work; hashing on
    doc_id both spreads it across every core and pre-aligns the downstream
    groupBy(doc_id) aggregations so they reuse the partitioning instead of
    shuffling the (much larger) shingle table."""
    return docs.repartition(F.col("doc_id")).select(
        "doc_id", F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """Per-doc MinHash signature of ``n_hashes`` 32-bit min-hashes, derived
    from just TWO md5 evaluations per shingle (md5 emits 128 bits = four
    32-bit hash functions; a salted second md5 supplies four more). One
    groupBy with n_hashes min-aggregates — a single shuffle regardless of
    signature width, and integer mins instead of string mins. (Per-doc set
    sizes for the exact-Jaccard verify come out of the candidate-bounded
    set aggregation in ``verify_jaccard``, not from here.)"""
    if n_hashes > 8:
        raise ValueError(f"n_hashes={n_hashes}: derive more salted md5s for signatures wider than 8")
    h1 = F.md5(F.encode(F.col("shingle"), "UTF-8"))
    h2 = F.md5(F.encode(F.concat(F.lit("x"), F.col("shingle")), "UTF-8"))
    chunks = [F.conv(F.substring(h1, 1 + 8 * i, 8), 16, 10).cast("long") for i in range(4)] + [
        F.conv(F.substring(h2, 1 + 8 * i, 8), 16, 10).cast("long") for i in range(4)
    ]
    return sh.groupBy("doc_id").agg(*[F.min(chunks[i]).alias(f"sig{i}") for i in range(n_hashes)])


def lsh_band_table(sigs: DataFrame, n_hashes: int = N_MINHASH, rows_per_band: int = 4) -> DataFrame:
    """Band table (doc_id, band_idx, band_key): band_key = md5 of the
    concatenated signature rows. Docs sharing any band_key are candidates."""
    n_bands = n_hashes // rows_per_band
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.encode(
                    F.concat_ws(
                        "_", *[F.col(f"sig{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
                    ),
                    "UTF-8",
                )
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*bands)).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs that collide in ≥1 band. The self-join
    shuffles on (band_idx, band_key) — collision-proportional, never n²."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verify_jaccard(pairs: DataFrame, sh: DataFrame, threshold: float, broadcast_threshold: int = 100_000) -> DataFrame:
    """Exact Jaccard on candidate pairs only: the shingle stream is
    broadcast-semi-filtered to candidate docs, re-aggregated into per-doc
    shingle SETS (one exchange bounded by candidate volume), and each pair
    scores with a narrow array_intersect — intersection by array math, union
    by inclusion-exclusion on the set sizes.

    Shuffle discipline: the candidate set is collision-proportional (tiny);
    only candidate shingles are ever moved, never the corpus, and they move
    ONCE (the set aggregation) instead of twice (a per-side equi-join). The
    set tables broadcast into the pair join ONLY while the candidate count
    stays under ``broadcast_threshold`` (one cheap count on the bounded pair
    table — same gate pattern as dedup_clusters' driver_threshold); past it
    the hints are dropped and the joins fall back to hash joins on
    doc_a/doc_b (AQE picks the strategy), so a pathological corpus degrades
    to one exchange per side instead of failing at the broadcast limit. At
    100 TB, also swap ``sh`` for a recompute-on-candidates scan (filter docs
    on the candidate ids *before* exploding shingles)."""
    scored, inter = _scored_pairs(pairs, sh, broadcast_threshold)
    jaccard = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter).cast("double")
    return scored.select("doc_a", "doc_b", jaccard.alias("jaccard")).where(F.col("jaccard") >= threshold)


def gated_broadcast(n_rows: int, threshold: int = 100_000):
    """The shared gated-hint pattern: return ``F.broadcast`` while the small
    side's (pre-counted) cardinality stays under ``threshold``, else the
    identity — so joins degrade to shuffle-hash/sort-merge (AQE picks) instead
    of OOMing the driver on a table that only LOOKS dimension-sized. Callers
    pay one cheap count (or reuse a bound they already hold) for the gate;
    plan-verified by tests/test_set_similarity_gate.py with a lowered
    threshold (no BroadcastExchange appears, hash-identical output)."""
    return F.broadcast if n_rows <= threshold else (lambda d: d)


def _scored_pairs(pairs: DataFrame, sh: DataFrame, broadcast_threshold: int):
    """Shared candidate-verification plumbing for the set-overlap verifiers:
    aggregate candidate docs' shingle sets once (gated broadcast, see
    verify_jaccard), join both sides onto the pair table, and hand back the
    joined frame plus the intersection-size column — the verifier applies
    its own similarity formula (Jaccard, containment, ...) on top."""
    n_pairs = pairs.count()  # bounded: collision-proportional candidate set
    hint = gated_broadcast(n_pairs, broadcast_threshold)
    cand = pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    csets = (
        sh.join(hint(cand), "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shset"), F.count(F.lit(1)).alias("n_sh"))
    )
    a = csets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sh_a"), F.col("n_sh").alias("n_a"))
    b = csets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sh_b"), F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return pairs.join(hint(a), "doc_a").join(hint(b), "doc_b"), inter


def minhash_dedup(docs: DataFrame, threshold: float = 0.5, k: int = 3) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → sign → band → candidate
    → exact-verify ≥ threshold. Returns (doc_a, doc_b, jaccard).

    The corpus is exploded and hashed once into the persisted shingle
    table; signatures + per-doc set sizes come out of ONE aggregation over
    it; bands/pairs/verify all reuse cached intermediates. shingles are
    ~5-10× text size — MEMORY_AND_DISK spills rather than OOMs; at 100 TB
    replace the persist with recompute-on-candidates (see verify_jaccard).
    Both persists are QUERY-SCOPED (registry.scoped_persist): they live
    until the caller materializes, then the next declared query (or a
    bench/test harness calling release_scoped_caches) drops them — a
    long-lived session no longer accumulates shingle tables in the heap."""
    sh = scoped_persist(shingle_table(docs, k=k))
    # sigs has a single consumer (the band table) — persisting it would
    # only add a materialization pass; the BAND table is self-joined, so
    # persisting IT stops each join side re-running the md5 signature
    # aggregate (r11, guide §5 — the pipeline's most expensive stage)
    sigs = minhash_signatures(sh)
    bands = scoped_persist(lsh_band_table(sigs))
    pairs = scoped_persist(candidate_pairs(bands))
    return verify_jaccard(pairs, sh, threshold)


# --- SimHash -----------------------------------------------------------------


def _token_hash60(col: Column) -> Column:
    """First 15 hex chars of md5 as a 60-bit BIGINT (base-16 conv)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10).cast("long")


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Frequency-weighted 60-bit SimHash per document.

    Single-pass formulation: explode tokens, hash each once, then ONE
    groupBy(doc_id) computing all 60 bit-sums as separate aggregate
    expressions (codegen handles wide aggregates well) and folding them
    into the final signature — no 60× row blow-up, one shuffle."""
    toks = docs.repartition(F.col("doc_id")).select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    hashed = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt")).withColumn("h", _token_hash60(F.col("tok")))
    bit_sums = [
        F.sum(F.col("cnt") * (F.shiftright(F.col("h"), p).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"s{p}")
        for p in range(bits)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for p in range(bits):
        term = F.when(F.col(f"s{p}") > 0, F.lit(1).cast("long") * (2**p)).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming, via 4-band
    pigeonhole blocking (any pair within distance 3 agrees on ≥1 of 4
    15-bit bands) then exact popcount verify on candidates."""
    n_bands = 4
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = [
        F.struct(F.lit(b).alias("band_idx"), F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask)).alias("band_key"))
        for b in range(n_bands)
    ]
    bt = sigs.select("doc_id", "simhash", F.explode(F.array(*bands)).alias("b")).select(
        "doc_id", "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )
    a = bt.alias("a")
    b = bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a", "doc_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# --- n-gram Jaccard with length blocking ------------------------------------


def ngram_jaccard_lsh(docs: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Word-bigram (2-gram) Jaccard near-dup via the same MinHash-LSH
    candidate machinery, at bigram granularity.

    Why not length-blocking + exhaustive verify: bucket occupancy is
    O(n / #buckets), so candidate pairs grow quadratically with corpus
    size — and a gram-equality join is Σ(df(gram)²) which explodes when
    the vocabulary is small relative to the corpus (every common bigram
    joins thousands × thousands of docs). LSH candidates are
    collision-proportional instead: the only shape that survives 100 TB.
    Recall below the ≈0.84 LSH design threshold is partial but fully
    deterministic (md5 banding, no RNG) — the oracle runs the identical
    algorithm and must agree exactly."""
    sh = scoped_persist(shingle_table(docs, k=2))
    # sigs has a single consumer (the band table) — persisting it would
    # only add a materialization pass; the BAND table is self-joined, so
    # persisting IT stops each join side re-running the md5 signature
    # aggregate (r11, guide §5 — the pipeline's most expensive stage)
    sigs = minhash_signatures(sh)
    bands = scoped_persist(lsh_band_table(sigs))
    pairs = scoped_persist(candidate_pairs(bands))
    return verify_jaccard(pairs, sh, threshold)


def verify_containment(pairs: DataFrame, sh: DataFrame, threshold: float, broadcast_threshold: int = 100_000) -> DataFrame:
    """Exact max-containment on candidate pairs: |A∩B| / min(|A|, |B|) —
    the ASYMMETRIC near-dup measure. Jaccard misses subset duplication (a
    paragraph quoted inside a 100× larger page scores |∩|/|∪| ≈ 0.01);
    containment scores it 1.0, which is what a curation pipeline needs to
    catch wrapper pages and quote farms. Same bounded shuffle discipline
    as verify_jaccard (shared via _scored_pairs): candidate shingles move
    once, sets broadcast under the same count gate."""
    scored, inter = _scored_pairs(pairs, sh, broadcast_threshold)
    containment = inter.cast("double") / F.least(F.col("n_a"), F.col("n_b")).cast("double")
    return scored.select("doc_a", "doc_b", containment.alias("containment")).where(F.col("containment") >= threshold)


def ngram_containment_lsh(docs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Word-bigram max-containment near-dup over the SAME MinHash-LSH
    candidate machinery as ngram_jaccard_lsh — one candidate generation,
    two verification semantics. Recall inherits LSH's Jaccard-tuned
    banding (a tiny-subset-of-huge-doc pair may not collide; catching
    those needs asymmetric sketches — documented limit, not hidden)."""
    sh = scoped_persist(shingle_table(docs, k=2))
    sigs = minhash_signatures(sh)
    bands = scoped_persist(lsh_band_table(sigs))  # self-joined (r11, see above)
    pairs = scoped_persist(candidate_pairs(bands))
    return verify_containment(pairs, sh, threshold)


# --- Embedding near-dup ------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, computed with
    sequential left-fold sums (bit-identical to DuckDB's list_dot_product)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.zip_with(b, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def embedding_near_dup(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding near-dup: block on the coarse partition column (label — the
    IVF-centroid stand-in), cosine-verify within blocks. At 100 TB the
    label comes from a k-means/IVF assignment; the join shape is identical."""
    e = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# --- Benchmark decontamination ------------------------------------------------


NGRAM_HASH_MOD = 1 << 45
NGRAM_HASH_MULT = 131


def ngram_hash_table(docs: DataFrame, text_col: str = "text", n: int = 4) -> DataFrame:
    """(doc_id, gh) table of distinct word n-gram 45-bit hashes.

    Hashing n-grams to fixed-width BIGINTs before the join keeps the
    shuffle payload at 8 bytes/gram instead of the gram string — at
    100 TB the contamination join moves hashes, never text.

    The gram hash is built WITHOUT materializing gram strings: each word
    is md5-hashed ONCE (40-bit prefix), then every n-gram combines its
    n word hashes with exact modular arithmetic
    (``acc = (acc * 131 + h) mod 2^45`` — overflow-free in int64, so
    bit-identical in any engine). Measured ~2× faster than
    hash-the-joined-string at sf0.1: per-word md5 on short strings plus
    narrow integer math beats per-gram string allocation + md5 on 4×
    longer inputs. Collision odds for the 45-bit space stay negligible
    at corpus-shard scale (birthday bound ≈ m²/2^46 per shard).
    """
    from simple_stream_processor_spark.operators.text import tokens

    # align on doc_id BEFORE exploding grams — the consumer's groupBy(doc_id)
    # then reuses the partitioning instead of shuffling the (much larger)
    # gram table; also spreads the single-row-group testdata scan across cores
    docs = docs.repartition(F.col("doc_id"))
    ws = tokens(F.col(text_col))
    wh = F.transform(
        ws, lambda w: F.conv(F.substring(F.md5(F.encode(w, "UTF-8")), 1, 10), 16, 10).cast("long")
    )

    def gram_hash(i):
        # i is the 0-based gram start; element_at is 1-based
        acc = F.element_at(F.col("_wh"), i + F.lit(1))
        for k in range(1, n):
            acc = (acc * NGRAM_HASH_MULT + F.element_at(F.col("_wh"), i + F.lit(k + 1))) % F.lit(
                NGRAM_HASH_MOD
            )
        return acc

    grams = F.when(
        F.size(F.col("_wh")) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(F.col("_wh")) - n), gram_hash)),
    ).otherwise(F.array().cast("array<long>"))
    return (
        docs.select("doc_id", wh.alias("_wh"))
        .select("doc_id", F.explode(grams).alias("gh"))
    )


def decontaminate(train: DataFrame, bench: DataFrame, text_col: str = "text", n: int = 4) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    n-gram with a held-out benchmark/eval set (the standard n-gram-overlap
    decontamination step of LLM training pipelines, cf. GPT-3 appendix C /
    Dolma §4). Returns (doc_id, n_overlap) for contaminated docs only.

    Scale shape: the benchmark side (eval suites) is tiny relative to the
    corpus, so its distinct gram-hash set is BROADCAST — the corpus-side
    gram table never shuffles; contamination detection runs at scan speed
    plus a map-side hash probe, then one aggregate bounded by the number
    of contaminated (doc, gram) hits, not corpus size.
    """
    tg = ngram_hash_table(train, text_col, n)
    bg = ngram_hash_table(bench, text_col, n).select("gh").distinct()
    return (
        tg.join(F.broadcast(bg), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("gh")).alias("n_overlap"))
    )


# --- Dedup cluster resolution (connected components) --------------------------


# Observability for the most recent dedup_clusters call on THIS thread:
# which path ran (driver union-find vs distributed label propagation), the
# bounded pair probe, and the label-propagation rounds to convergence.
# Thread-local (r6 ADVICE): concurrent callers sharing one process
# (parallel bench/pytest workers) each see only their own run's info
# instead of interleaved clear/update from another thread.
class _ThreadLocalRunInfo(threading.local):
    def __init__(self):
        self.data: dict = {}


_RUN_INFO = _ThreadLocalRunInfo()


class _RunInfoProxy:
    """dict-like view over the calling thread's run info (keeps the
    ``dedup.LAST_RUN_INFO["path"]`` API the tests and soaks read)."""

    def clear(self) -> None:
        _RUN_INFO.data.clear()

    def update(self, d: dict) -> None:
        _RUN_INFO.data.update(d)

    def get(self, k, default=None):
        return _RUN_INFO.data.get(k, default)

    def __getitem__(self, k):
        return _RUN_INFO.data[k]

    def __setitem__(self, k, v) -> None:
        _RUN_INFO.data[k] = v

    def __contains__(self, k) -> bool:
        return k in _RUN_INFO.data

    def __repr__(self) -> str:
        return repr(_RUN_INFO.data)


LAST_RUN_INFO = _RunInfoProxy()


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20, driver_threshold: int = 200_000) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components, returning
    (doc_id, cluster_rep) where cluster_rep = the smallest doc_id reachable
    (the canonical "keep" doc).

    This is the step a real dedup pipeline needs after pair detection —
    A~B and B~C must collapse to ONE representative even though A~C was
    never compared. Size-adaptive execution:

    - pair set ≤ ``driver_threshold``: union-find on the driver. The pair
      set is collision-proportional by construction (it already fit through
      a broadcast in the verify step), and a few hundred thousand edges
      resolve in milliseconds — spending ~10 Spark jobs on label
      propagation for that is pure scheduler overhead.
    - larger: distributed iterative min-label propagation. Each iteration
      is one shuffle (groupBy node of the neighbor-label min); convergence
      takes O(graph diameter) rounds, and near-dup graphs are
      overwhelmingly tiny star/clique components (diameter ≤ 3-4).
      Fails loudly rather than silently truncating if the diameter exceeds
      ``max_iterations`` (pathological chain components).

    Both paths produce identical output (min-reachable representative).

    Observability: ``LAST_RUN_INFO`` records {path, n_pairs_probe, rounds}
    for the most recent call — the convergence witness the sf0.1 soak
    (docs/EVIDENCE.md) and the distributed-path tests read."""
    spark = pairs.sparkSession
    n_pairs = pairs.limit(driver_threshold + 1).count()
    LAST_RUN_INFO.clear()
    LAST_RUN_INFO.update({"path": "driver", "n_pairs_probe": n_pairs, "rounds": 0})
    if n_pairs <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs.select("doc_a", "doc_b").collect():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min — the smaller id becomes the root, so the
                # root IS the min-reachable representative
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(node, find(node)) for node in parent]
        # one slice: the label table is component-count-sized (tiny); the
        # default defaultParallelism slices would pay one Python-worker task
        # per core to ship a few hundred rows
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, numSlices=1), "doc_id long, cluster_rep long"
        )

    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().persist()
    # localCheckpoint (not persist): truncates the LINEAGE each round, so the
    # logical plan stays O(1) deep across iterations instead of compounding
    # one join per round. On a cluster use reliable checkpoint() to survive
    # executor loss over a long convergence.
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node")).localCheckpoint()
    # Labels only ever decrease (min-propagation is monotone), so the sum of
    # all labels is a strictly decreasing convergence witness: one cheap
    # one-row aggregate per round instead of a join-based change detector.
    LAST_RUN_INFO["path"] = "distributed"
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _round in range(1, max_iterations + 1):
        LAST_RUN_INFO["rounds"] = _round
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            edges.unpersist()
            return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep"))
        prev_sum = cur_sum
    raise RuntimeError(f"dedup_clusters did not converge in {max_iterations} iterations")


# ---------------------------------------------------------------------------
# Bloom membership index (mergeable)
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1024  # 32 words x 32 bits
BLOOM_K = 4


def bloom_positions(key: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> Column:
    """k deterministic bit positions in [0, m_bits) from one md5 of the key
    (the md5-chunk determinism contract shared with the CMS and MinHash
    machinery) — identical arithmetic is expressible in the SQL oracle, so
    Bloom contents are engine-exact."""
    h = F.md5(F.encode(key, "UTF-8"))
    return F.array(
        *[(F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % m_bits) for i in range(k)]
    )


def bloom_words(df: DataFrame, key: Column, group: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> DataFrame:
    """Per-group Bloom filters as (group, word, bits) rows — 32-bit patterns
    in 64-bit words so shifts never touch the sign bit in either engine.
    Sparse by construction: a word with no set bits has no row, so probes
    join on word and treat a missing row as all-zero. Mergeable: OR the
    word tables (groupBy(word).agg(bit_or)) — rollups never re-scan data.
    At scale each filter is m_bits/8 bytes on the wire regardless of input
    cardinality; the build is one explode(k) + one (group, word) bit_or
    aggregate that combines map-side."""
    pos = df.select(group.alias("bloom_group"), F.explode(bloom_positions(key, m_bits, k)).alias("p"))
    return (
        pos.select(
            "bloom_group",
            F.expr("p div 32").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias("m"),
        )
        .groupBy("bloom_group", "word")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_probe(words: DataFrame, probes: DataFrame, key: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> DataFrame:
    """Probe every key in ``probes`` against every group's filter in
    ``words``: returns (bloom_group, probe key, n_ok) where n_ok == k means
    'possibly member' and anything less is a definite non-member (Bloom's
    no-false-negative guarantee). The probe side broadcasts (k rows per
    key); the filter side is groups×words rows — nothing record-level."""
    pr = probes.select(key.alias("probe_key")).distinct()
    pp = pr.select(
        "probe_key",
        F.explode(bloom_positions(F.col("probe_key"), m_bits, k)).alias("p"),
    ).select(
        "probe_key",
        F.expr("p div 32").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias("m"),
    )
    return (
        words.join(F.broadcast(pp), "word")
        .groupBy("bloom_group", "probe_key")
        .agg(F.sum(F.when(F.col("bits").bitwiseAND(F.col("m")) != 0, 1).otherwise(0)).alias("n_ok"))
    )


def dup_span_coverage(docs: DataFrame, text_col: str = "text", n: int = 8) -> DataFrame:
    """Exact-substring duplication coverage (the span-level dedup metric
    of "Deduplicating Training Data Makes Language Models Better", Lee
    et al. 2022): per source, the fraction of token positions covered by
    a word n-gram that also occurs in ANOTHER document.

    Positions matter here (unlike ``ngram_hash_table``'s distinct sets):
    every occurrence of a cross-doc-duplicated gram covers its n-token
    span, and a doc's duplicated-token count is the length of the UNION
    of those (equal-length, sorted-by-start) spans — computed with one
    lead() per doc: covered(p) = min(n, next_start - p), last span = n.

    Scale shape: gram rows carry (doc_id, pos, 45-bit gh) — 24 bytes,
    never text. Two gram-sized exchanges (the min≠max dup-gram rollup
    and the starts⋈dup join — both map-side combinable / AQE-planned),
    one doc-keyed window over dup starts only (collision-proportional,
    like the LSH band join), then doc- and source-bounded tables.
    """
    from simple_stream_processor_spark.operators.text import tokens

    docs = docs.repartition(F.col("doc_id"))
    wh = F.transform(
        tokens(F.col(text_col)),
        lambda w: F.conv(F.substring(F.md5(F.encode(w, "UTF-8")), 1, 10), 16, 10).cast("long"),
    )

    def gram_hash(i):
        acc = F.element_at(F.col("_wh"), i + F.lit(1))
        for k in range(1, n):
            acc = (acc * NGRAM_HASH_MULT + F.element_at(F.col("_wh"), i + F.lit(k + 1))) % F.lit(
                NGRAM_HASH_MOD
            )
        return acc

    base = docs.select("doc_id", "source", wh.alias("_wh")).select(
        "doc_id", "source", "_wh", F.size(F.col("_wh")).alias("n_tok")
    )
    grams = base.where(F.col("n_tok") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.col("n_tok") - n), gram_hash)
        ).alias("pos", "gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("gh")
    )
    starts = grams.join(dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        starts.select(
            "doc_id",
            F.least(
                F.lit(n), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(n))
            ).alias("covered"),
        )
        .groupBy("doc_id")
        .agg(F.sum("covered").alias("dup_tokens"))
    )
    per_doc = (
        base.select("doc_id", "source", "n_tok")
        .join(cov, "doc_id", "left")
        .select("source", "n_tok", F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("dup_tokens") > 0, 1).otherwise(0)).alias("n_docs_dup"),
        F.sum(
            F.when((F.col("dup_tokens") * 2 >= F.col("n_tok")) & (F.col("dup_tokens") > 0), 1).otherwise(0)
        ).alias("n_docs_majority"),
        F.sum("dup_tokens").alias("dup_tokens"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.sum("dup_tokens") * F.lit(1.0) / F.sum("n_tok"), 6).alias("dup_frac"),
    )
