"""Deduplication operators for LLM-training-data pipelines.

Extension surface (BASELINE.json north star): exact dedup, n-gram
Jaccard near-dup, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (the whole point — these must work at 100 TB):

- **exact**: hash-groupBy on a 128-bit content fingerprint. One
  shuffle of (16-byte key, doc_id) pairs, map-side combinable. Never
  shuffles document text.
- **n-gram Jaccard**: inverted-index join (explode shingle → equi-join
  on shingle → count intersections) instead of an O(N²) cross join.
  Hot shingles are capped (document-frequency cut) exactly like a
  search engine drops stopwords from postings.
- **MinHash+LSH**: signature = k minima of permuted shingle hashes,
  computed per-row with NO shuffle; banding turns near-dup search into
  an equi-join on (band_id, band_hash). Candidate pairs are then
  verified with exact Jaccard, so false positives cost only the verify
  join; recall is tuned by (bands, rows-per-band).
- **SimHash**: one 64-bit signature per doc computed in a single
  expression (no explode, no shuffle), then banded into 16-bit chunks
  for Hamming-neighbor candidate generation.
- **embedding near-dup**: cosine ≥ τ pairs via random-hyperplane LSH
  bucketing; brute-force variant for verification at small scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .common import materialize
from .text import fingerprint, tokens

# Deterministic Mersenne-prime permutation family for MinHash.
# 2^31-1 (not 2^61-1) so a*h+b < 2^62 never overflows a signed 64-bit
# long — Spark 4 runs ANSI mode where long overflow THROWS.
_MERSENNE = (1 << 31) - 1
_LCG_MOD = (1 << 61) - 1


def portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5,
    read as an integer. Every engine with md5 + hex parsing computes
    the identical value — DuckDB: ``('0x'||substr(md5(x),1,15))::BIGINT``
    — which is what lets hash-seeded operators (MinHash, SimHash) be
    verified by exact cross-engine differential instead of rows-only
    checks. 60 bits keeps every value positive and every downstream
    ``a*h+b`` product under 2^62 (ANSI long overflow throws).

    ~2-3× the cost of xxhash64 (md5 + string slice + base-16 parse vs
    one JVM hash) — still codegen'd, still O(bytes); use xxhash64 when
    cross-engine reproducibility isn't required.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _permute_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i*x + b_i) mod p.

    A tiny LCG expands the seed — reproducible across runs/clusters
    with no RNG state (Spark tasks must stay deterministic for
    retries).
    """
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % _LCG_MOD
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % _LCG_MOD
        b = state % _MERSENNE
        params.append((a, b))
    return params


def shingles(text_col: str | Column, n: int = 3) -> Column:
    """n-token shingles as an array<string> (distinct, order-free set).

    Pure SQL: tokens → transform(sequence(...)) → concat_ws windows.
    Documents shorter than n tokens contribute their full token string
    as a single shingle so they can still match exact duplicates.
    """
    toks = tokens(text_col)
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(grams)


def shingle_postings(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) postings — the inverted-index input.

    Codegen-friendly shape: posexplode tokens → window lead(1..n-1)
    per doc → concat, in a SINGLE corpus pass. Documents shorter than
    ``n`` tokens contribute their whole token string as one shingle
    (same contract as :func:`shingles`) — emitted from the SAME
    window pass at ``pos == 0``, where ``concat_ws`` skipping the
    null leads yields exactly the whole-token join. The r6 shape
    computed that fallback as a second scan + anti-join, so the raw
    corpus was scanned 3× per call (and ReuseExchange never fires
    across differently-keyed consumers); r7 A/B at sf0.1: this
    one-pass shape is 25-40% faster on every consumer AND the only
    corpus pass is the one window shuffle. The zero-shuffle
    array-transform equivalent measured 2-2.5× slower end-to-end
    (higher-order functions evaluate interpreted, outside codegen) —
    see ARCHITECTURE.md round-7 A/B.

    Null-text docs contribute no posting (``posexplode`` of a null
    array emits nothing) — matching the DuckDB oracle's UNNEST
    semantics; hashing NULL would make all null docs mutual
    "duplicates".
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        toks.select(
            "id",
            F.concat_ws(" ", *parts).alias("sh"),
            parts[-1].alias("_t"),
            "pos",
        )
        .filter(F.col("_t").isNotNull() | (F.col("pos") == 0))
        .select("id", "sh")
        .distinct()
    )


def hashed_postings(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, portable: bool = False
) -> DataFrame:
    """Distinct ``(id, hash(shingle))`` postings — the 8-byte
    inverted index every near-dup operator joins on.

    Same rows as hashing :func:`shingle_postings` (asserted in tests),
    but the hash is applied BEFORE the dedup, so the distinct's
    shuffle carries 8-byte keys instead of ~20-char strings.
    Collision probability ~1e-9 at 10^5 distinct shingles; switch both
    sides to a 128-bit hash at 10^9+ shingles.

    ``portable=False`` (default): xxhash64 — fastest, Spark-specific;
    right whenever the hash never leaves the job (n-gram Jaccard joins
    postings against themselves). ``portable=True``:
    :func:`portable_hash60` — reproducible in any engine with md5, so
    hash-seeded outputs (MinHash signatures) can be differentially
    verified against a DuckDB oracle.
    """
    from pyspark.sql import Window

    hash_fn = portable_hash60 if portable else F.xxhash64
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    # single corpus pass: short docs (< n tokens) fall out of the
    # same window at pos == 0, where concat_ws skips the null leads
    # and yields the whole-token join (see shingle_postings docstring
    # for the r7 A/B; the r6 two-scan anti-join shape tripled the
    # raw-corpus scan count)
    return (
        toks.select(
            "id",
            hash_fn(F.concat_ws(" ", *parts)).alias("sh"),
            parts[-1].alias("_t"),
            "pos",
        )
        .filter(F.col("_t").isNotNull() | (F.col("pos") == 0))
        .select("id", "sh")
        .distinct()
    )


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content fingerprint (md5 of normalized text).

    Returns one row per distinct content: (fingerprint, keep_id = min
    id, n_copies, dup_ids). Only (hash, id) pairs shuffle — at 100 TB
    the text never leaves the scan stage.
    """
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    posts: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via inverted index.

    ``J(A,B) = |A∩B| / (|A|+|B|-|A∩B|)`` over distinct n-token
    shingle sets. Implementation: explode shingles, self-equi-join on
    shingle (id_a < id_b), count co-occurrences = |A∩B|, join back
    per-doc set sizes. Never materializes the N² pair space — only
    pairs sharing ≥1 shingle.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs (posting-list cap). At web scale this bounds the worst-case
    join fan-out; leave None for exact semantics.

    Postings join on xxhash64(shingle), not the string — an 8-byte
    shuffle key instead of ~20-char strings (:func:`hashed_postings`).
    The postings are local-checkpointed: three plan branches (sizes and
    both join sides) read one materialization instead of re-running
    tokenize→window→distinct per branch. On a cluster the equivalent is
    persisting/bucketing the inverted index — any production near-dup
    pass materializes it once.

    ``posts``: optional precomputed ``(id, sh)`` postings (the
    persisted-artifact path; must match ``hashed_postings(df, id_col,
    text_col, n)`` — non-portable xxhash64 is this operator's default
    hash, so a store artifact must be keyed portable=False, or pass
    the portable one consistently on every call).
    """
    sh = (
        hashed_postings(df, id_col, text_col, n) if posts is None else posts
    ).transform(materialize)
    if max_shingle_df is not None:
        # same census + anti-join + materialize shape as the banding
        # caps — and the same no-pinned-broadcast policy: at corpus
        # scale the hot-shingle set (every stopword-ish n-gram) can
        # exceed broadcast limits, so AQE decides from runtime stats
        sh = drop_hot_buckets(sh, ["sh"], max_shingle_df)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def drop_hot_buckets(df: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Shared guard for banded self-joins: anti-join away every bucket
    key held by more than ``cap`` rows.

    A bucket of B rows emits B(B−1)/2 self-join candidates, so one
    mega-cluster key (boilerplate template, all-zero LSH region)
    becomes a quadratic single-task hot spot at corpus scale. The
    census is a map-side-combined groupBy over the (already
    materialized) bucket frame. The hot-key set is bounded by
    rows/cap, but no broadcast hint is pinned: at the 100 TB design
    point rows/cap can still exceed the broadcast limit, and a pinned
    hint bypasses AQE's size guard (driver OOM). AQE broadcasts the
    anti side from runtime stats whenever it actually is small — the
    same policy as ``minhash_lsh_pairs``' verify join.

    The FILTERED frame is materialized here, because every caller is
    a self-join that reads it twice (sides a and b): without it the
    anti-join — and the census aggregation feeding it — execute once
    per side. Used by :func:`minhash_lsh_pairs` (``max_band_bucket``),
    :func:`simhash_pairs` (``max_chunk_bucket``),
    :func:`ngram_jaccard_pairs` (``max_shingle_df``) and
    ``similarity.embedding_neardup_pairs`` (``max_bucket``).
    """
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("nb_"))
        .filter(F.col("nb_") > cap)
        .select(*key_cols)
    )
    return df.join(hot, key_cols, "left_anti").transform(materialize)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures as 64 columns ``m0..m{k-1}`` per id.

    Shape chosen for scale AND local speed: explode shingles → hash
    each shingle ONCE (xxhash64, a codegen'd JVM hash) → groupBy(id)
    with k ``min((a_i*h + b_i) % p)`` aggregates. The k permutations
    are plain arithmetic inside a single whole-stage-codegen'd hash
    aggregate with map-side partial combine — the shuffle carries one
    k-long vector per id, never the shingles.

    (A previous formulation computed the signature as one nested
    higher-order-function expression per permutation; Catalyst
    duplicates the shingle subtree into all 64 trees and evaluates
    them interpreted — 200× slower. Aggregation is the right Spark
    physical shape for "k minima over an exploded set".)
    """
    return _signatures_from_hashed(
        hashed_postings(df, id_col, text_col, n, portable), num_hashes, seed
    )


def _signatures_from_hashed(
    posts: DataFrame, num_hashes: int, seed: int
) -> DataFrame:
    # Each permutation aggregate is built as ONE SQL string (F.expr)
    # instead of ~6 nested Column operations: the Column algebra costs
    # a py4j round trip per operator, and at 64 permutations that is
    # ~400 driver round trips PER PLAN BUILD — measured 1.8 s vs
    # 0.28 s on the r16 box (plans are rebuilt per run; bench pays the
    # build every time). The parsed expression tree — and therefore
    # the physical plan and every output value — is identical
    # (min/pmod over the same long literals; r16 identity-checked).
    hashed = posts.selectExpr("id", f"pmod(sh, {_MERSENNE}L) AS h")
    aggs = [
        F.expr(f"min(pmod(h * {a}L + {b}L, {_MERSENNE}L)) AS m{i}")
        for i, (a, b) in enumerate(_permute_params(num_hashes, seed))
    ]
    return hashed.groupBy("id").agg(*aggs)


def _banded_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a ``(id, m0..m{k-1})`` signature frame into LSH band
    keys ``(id, band, bh)`` — ``bh`` is the comma-joined signature
    slice of the band (collision-free and engine-neutral; see
    :func:`minhash_lsh_pairs`). One narrow projection + explode, no
    shuffle."""
    # single SQL string instead of bands × (struct + concat_ws + k col
    # refs) Column calls — py4j round trips dominate plan-build time
    # on the bench box (see _signatures_from_hashed); parsed plan and
    # rows are identical.
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "named_struct('band', {bnd}, 'bh', concat_ws(',', {cols}))".format(
            bnd=bnd,
            cols=", ".join(
                f"m{bnd * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bnd in range(bands)
    )
    return sig.selectExpr(
        "id", f"explode(array({band_structs})) AS bk"
    ).selectExpr("id", "bk.band AS band", "bk.bh AS bh")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
    pair_pred=None,
    max_band_bucket: int | None = None,
    posts: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified with exact
    Jaccard.

    Pipeline: signature (per-row, no shuffle) → explode ``bands``
    band-keys → equi-join on (band, band_hash) → distinct candidate
    pairs → exact-Jaccard verify join. With 64 hashes / 16 bands
    (r=4), the S-curve gives ~99.9% recall at J=0.8 and ~50% at
    J≈0.7. Output: (id_a, id_b, jaccard) with jaccard ≥ threshold —
    same contract as :func:`ngram_jaccard_pairs`, so exactness is
    testable.

    ``portable=True`` swaps the shingle hash to :func:`portable_hash60`,
    making the whole pipeline (signatures → bands → candidates →
    verified pairs) bit-for-bit reproducible in any md5-capable engine
    — the driver's DuckDB oracle replays it exactly. The band key is a
    comma-joined string of the band's signature slice (collision-free
    and engine-neutral; the hash of it would only save shuffle width).

    ``pair_pred(id_a, id_b) -> Column``: optional predicate applied
    INSIDE the band join (and therefore inherited by the exact-verify
    join), not after it. A caller that only wants cross-population
    pairs — decontamination's eval×train is the canonical case —
    must prune here: filtering the finished pair set still pays for
    every within-population candidate, which is ~(1−p)² of the band
    join's output when the population of interest is a fraction p of
    the corpus (at p = 10%, 81% of candidate+verify work is train×
    train pairs the caller then throws away). Result set is identical
    to post-filtering; only where the cut happens changes.

    ``max_band_bucket``: optional hot-bucket cap, the banding analog
    of ``ngram_jaccard_pairs``' ``max_shingle_df`` and the fuzzy
    block cap (nb ≤ 64). A band bucket holding B docs emits B(B−1)/2
    candidates — a boilerplate mega-cluster (every copy of one
    template) turns a single (band, bh) key into a quadratic hot spot
    that one task must materialize at 100 TB. With the cap, buckets
    wider than the limit are dropped BEFORE the self-join (count +
    broadcast anti-join, same cost shape as the DF cap). Recall
    trade, explicit: pairs whose EVERY agreeing band is hot are lost
    — by construction those are members of ≥cap-sized near-identical
    clusters, which exact dedup (`dedup_exact`) or the cluster path
    (`connected_components`) already handles at a lower cost tier.
    Default None preserves exact parity with the DuckDB oracle.

    ``posts`` / ``sig``: optional precomputed inputs — the persisted-
    artifact path (:class:`..signature_store.SignatureStore`). ``posts``
    must be row-identical to ``hashed_postings(df, id_col, text_col,
    n, portable)`` and ``sig`` to ``minhash_signatures(...)`` with the
    SAME (n, portable, num_hashes, seed); the caller owns that
    contract (the store keys its artifacts by exactly those params).
    When supplied, this function never re-tokenizes the corpus — the
    dominant cost at 100 TB when several passes (dedup,
    decontamination, clustering) share one signature computation.
    """
    # One materialization of the inverted index feeds all four plan
    # branches (signature agg, per-doc sizes, both verify-join sides) —
    # without it Catalyst re-runs tokenize→window→distinct per branch.
    # (A store-provided `posts` is a bare Parquet scan; materializing
    # it still collapses the three remaining consumers onto one read.)
    if posts is None:
        posts = hashed_postings(df, id_col, text_col, n, portable)
    posts = posts.transform(materialize)
    if sig is None:
        # materialized: the band self-join reads `banded` (and through
        # it the 64-min signature aggregate) TWICE — once for the
        # probe side, once inside the broadcast build — and a
        # broadcast exchange never reuses a shuffle exchange, so the
        # aggregate runs per side unmaterialized (measured: the two
        # heaviest stages of the r16 steady-state profile were this
        # one aggregate, twice). The production path persists the
        # signature artifact anyway (SignatureStore); store-provided
        # `sig` is already a Parquet scan and is left untouched.
        sig = _signatures_from_hashed(posts, num_hashes, seed).transform(
            materialize
        )
    banded = _banded_keys(sig, num_hashes, bands)
    if max_band_bucket is not None:
        # two consumers of the signature frame (bucket census + the
        # anti-join side) — materialize so the 64-min aggregation runs
        # once. drop_hot_buckets materializes its OUTPUT too, so the
        # self-join's two sides read the filtered cache, not two
        # anti-join executions.
        banded = drop_hot_buckets(
            banded.transform(materialize), ["band", "bh"], max_band_bucket
        )
    a = banded.alias("a")
    b = banded.alias("b")
    band_cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id"))
    )
    if pair_pred is not None:
        band_cond = band_cond & pair_pred(F.col("a.id"), F.col("b.id"))
    candidates = (
        a.join(b, band_cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        # two consumers since the probe-side semi prefilter below
        # (pa's equi-join + pb's left-semi) — unmaterialized, each
        # would re-run the band self-join + distinct
        .transform(materialize)
    )
    # verify candidates with exact Jaccard via the hashed postings
    # (pure codegen joins; |candidates| ≪ N² keeps this cheap — no
    # per-row array materialization). No broadcast hints here: the
    # candidate set and the per-doc size table both grow with the
    # corpus (O(pairs) / O(N)), so a pinned broadcast would blow the
    # limit at scale — AQE broadcasts them from runtime stats whenever
    # they are actually small (they are, at every test SF).
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    pa = posts.join(
        candidates, posts["id"] == candidates["id_a"]
    ).select("id_a", "id_b", "sh")
    # the probe side carries only candidate docs' postings: the inner
    # join on id_b already discards every non-candidate row, so the
    # left-semi prefilter is result-identical — but it cuts the probe
    # side BEFORE any exchange (guide §3.2 shape). At test SFs the
    # verify join broadcasts `pa`, so this is a map-side filter over
    # the cached postings (~neutral locally, A/B-checked); at corpus
    # scale, where AQE falls back to SMJ, it shrinks the shuffled
    # postings to the candidate-doc fraction. No broadcast hint, same
    # policy as above: AQE picks the semi strategy from runtime stats.
    # no .distinct() on the build side: left-semi semantics already
    # deduplicate it (r16 advice #3 — the extra aggregation over the
    # cached candidate set was a redundant plan node). The cost: the
    # build side carries one id_b row per candidate PAIR, not per
    # candidate doc, so a doc that collides with many others fans out.
    # If AQE broadcasts it, the broadcast scales with the pair count
    # and can pass the threshold on a skewed near-dup corpus, where
    # the distinct doc set would have fit.
    pb = (
        posts.join(
            candidates.select(F.col("id_b").alias("id")),
            "id",
            "left_semi",
        )
        .select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    )
    inter = (
        pa.join(pb, (pa["id_b"] == pb["id_b"]) & (pa["sh"] == pb["sh_b"]))
        .groupBy("id_a", pa["id_b"])
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_cross(
    posts_a: DataFrame,
    sig_a: DataFrame,
    posts_b: DataFrame,
    sig_b: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_band_bucket: int | None = None,
    b_sizes: DataFrame | None = None,
    b_hot_buckets: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs ACROSS two corpora — the asymmetric
    twin of :func:`minhash_lsh_pairs`, built for the incremental-batch
    workflow (new documents vs an existing corpus snapshot's persisted
    artifacts; see :func:`..pipelines.incremental_dedup`).

    Inputs are artifact frames, not raw text: ``posts_*`` row-identical
    to :func:`hashed_postings` and ``sig_*`` to
    :func:`minhash_signatures`, BOTH SIDES with the same
    (n, portable, num_hashes, seed) — band keys and shingle hashes are
    only comparable under identical parameters (the
    :class:`..signature_store.SignatureStore` keys artifacts by exactly
    those). Ids must be disjoint across sides (no ``id_a < id_b``
    ordering is applied — every A×B bucket pair is a candidate).

    Returns ``(id_a, id_b, jaccard)`` with ``id_a`` from the A side,
    ``id_b`` from the B side, jaccard ≥ threshold — exact Jaccard,
    verified through the postings join, same contract as the
    symmetric operator.

    Scale shape: side B (the big corpus) is band-exploded from its
    signature ARTIFACT — a narrow Parquet scan, never a re-tokenize —
    and the equi-join on (band, bh) means only buckets the batch
    actually touches produce work. ``max_band_bucket`` caps B-side hot
    buckets (boilerplate mega-clusters; same census + anti-join shape
    as the symmetric cap). The A side (a daily batch, orders of
    magnitude smaller) is left uncapped — a hot A-bucket multiplies
    work by at most |batch|.

    ``b_sizes`` / ``b_hot_buckets``: precomputed B-side aggregates —
    the ``(id, sz)`` shingle-set sizes and the ``(band, bh)`` keys to
    drop (census rows already filtered to ``cnt > cap``). When given
    (the :class:`..signature_store.SignatureStore` persists both as
    delta-aware artifacts), the two per-batch O(corpus) SHUFFLES this
    function would otherwise run — ``posts_b.groupBy(id)`` over the
    corpus postings and the ``drop_hot_buckets`` census over the
    band-exploded corpus — become narrow artifact scans; the per-call
    corpus-side cost drops to scan + explode + broadcast-probe, the
    difference between O(corpus-shuffle)-per-day and
    O(batch)-per-day at 100 TB. Results are row-identical either way
    (pinned by ``tests/test_incremental_dedup.py``).
    """
    banded_a = _banded_keys(sig_a, num_hashes, bands)
    banded_b = _banded_keys(sig_b, num_hashes, bands)
    if b_hot_buckets is not None:
        banded_b = banded_b.join(
            b_hot_buckets.select("band", "bh"), ["band", "bh"], "left_anti"
        )
    elif max_band_bucket is not None:
        banded_b = drop_hot_buckets(
            banded_b.transform(materialize), ["band", "bh"], max_band_bucket
        )
    a = banded_a.alias("a")
    b = banded_b.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact-Jaccard verify through the two postings sides — identical
    # cost shape to the symmetric verify; |candidates| ≪ |A|×|B| and
    # AQE broadcasts the small frames from runtime stats (no pinned
    # hints — both sides grow with their corpus).
    posts_a = posts_a.transform(materialize)
    pa = posts_a.join(
        candidates, posts_a["id"] == candidates["id_a"]
    ).select("id_a", "id_b", "sh")
    pb = posts_b.select(F.col("id").alias("_idb"), F.col("sh").alias("sh_b"))
    inter = (
        pa.join(pb, (pa["id_b"] == pb["_idb"]) & (pa["sh"] == pb["sh_b"]))
        .groupBy("id_a", pa["id_b"])
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = posts_a.groupBy("id").agg(F.count(F.lit(1)).alias("sz_a")).select(
        F.col("id").alias("id_a"), "sz_a"
    )
    sz_b = (
        b_sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
        if b_sizes is not None
        else posts_b.groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz_b"))
        .select(F.col("id").alias("id_b"), "sz_b")
    )
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(text_col: str | Column) -> Column:
    """64-bit SimHash of the token set — single expression, no shuffle.

    Each token hashes to 64 bits (xxhash64); bit b of the signature is
    1 iff Σ_tokens (±1 for bit b) > 0. Implemented as a fold over the
    token array with a 64-int accumulator (aggregate + zip_with), all
    inside codegen.
    """
    toks = F.array_distinct(tokens(text_col))
    zero = F.array_repeat(F.lit(0), 64)

    def bitvec(tok):
        h = F.xxhash64(tok)
        # bit index is a compile-time Python int (shiftright requires it)
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(64)
            ]
        )

    sums = F.aggregate(
        toks, zero, lambda acc, t: F.zip_with(acc, bitvec(t), lambda x, y: x + y)
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        # shiftleft (bitwise, not arithmetic) is overflow-safe at i=63
        sig = sig.bitwiseOR(
            F.when(
                F.element_at(sums, i + 1) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return sig


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash as an aggregation (the fast, scale-correct shape —
    same rationale as :func:`minhash_signatures`): explode distinct
    tokens → hash once → groupBy(id) with ``nbits`` ``sum(±1)`` bit
    aggregates → pack into one long.

    ``portable=True`` uses :func:`portable_hash60` (requires
    ``nbits <= 60``) so the signature — and everything derived from it
    — is reproducible in any md5-capable engine for differential
    verification.
    """
    if portable and nbits > 60:
        raise ValueError("portable_hash60 yields 60 bits; nbits must be <= 60")
    hash_fn = portable_hash60 if portable else F.xxhash64
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    h = tok.select("id", hash_fn(F.col("tok")).alias("h"))
    # per-bit ONES count (branch-free bit arithmetic per row); the ±1
    # sum is recovered after the aggregate as 2·ones − n, which is
    # integer-exact — same signature as summing ±1 directly.
    # Aggregates and the bit-packing chain are built as SQL strings
    # (one F.expr each / one packing expr) instead of ~5 Column calls
    # per bit: at 60 bits the Column algebra costs ~600 py4j round
    # trips per plan build (~2 s measured on the r16 box, paid per
    # bench run); the parsed trees are identical.
    aggs = [
        F.expr(f"sum(shiftright(h, {i}) & 1) AS b{i}") for i in range(nbits)
    ] + [F.count(F.lit(1)).alias("n_")]
    sums = h.groupBy("id").agg(*aggs)
    packed = " | ".join(
        f"(CASE WHEN b{i} * 2 > n_ THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(nbits)
    )
    return sums.selectExpr("id", f"CAST(0 AS BIGINT) | {packed} AS sig")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    nbits: int = 64,
    portable: bool = False,
    max_chunk_bucket: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: candidates share one of four
    ``nbits/4``-bit chunks (any pair within Hamming ≤ 3 must agree on
    ≥1 chunk by pigeonhole when ≤3 chunks differ), then exact Hamming
    filter. Equi-join on (chunk_id, chunk_value) — never N².

    ``portable=True`` (with ``nbits=60``) makes the signature
    md5-derived so a DuckDB oracle can replay candidates + Hamming
    exactly; the 4-chunk pigeonhole guarantee is bit-width independent.

    ``max_chunk_bucket``: hot-bucket cap, same contract and rationale
    as ``minhash_lsh_pairs``' ``max_band_bucket`` — a (chunk, cv)
    bucket of B docs emits B(B−1)/2 join rows, so one mega-cluster of
    near-identical docs becomes a single-task quadratic hot spot at
    scale. Capped buckets are dropped before the self-join; pairs
    whose every agreeing chunk is hot are lost (cap-sized
    near-identical clusters — exact dedup's tier). None = exact
    oracle parity.

    ``sig``: optional precomputed ``(id, sig)`` signature frame (the
    persisted-artifact path — must match ``simhash_signatures(df,
    id_col, text_col, nbits, portable)``; the store keys by exactly
    those params).
    """
    chunk_bits = nbits // 4
    chunk_mask = (1 << chunk_bits) - 1
    # one row per doc; materialized once so the self-join's two sides
    # don't each re-run the tokenize + per-bit-sum aggregation
    if sig is None:
        sig = simhash_signatures(df, id_col, text_col, nbits, portable)
    sig = sig.transform(materialize)
    chunked = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("sig"), i * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sig", "ck.chunk", "ck.cv")
    if max_chunk_bucket is not None:
        # chunked reads the already-materialized signature frame, so
        # the census costs one cache pass, not a corpus re-scan
        chunked = drop_hot_buckets(chunked, ["chunk", "cv"], max_chunk_bucket)
    a = chunked.alias("a")
    b = chunked.alias("b")
    # Hamming is computed INSIDE the join stage, before the dedup:
    # bit_count(xor) is free codegen on the joined row, so candidates
    # failing the cut (the vast majority when chunk values collide —
    # e.g. low-entropy corpora) never enter the distinct's shuffle,
    # and the rows that do are (id, id, hamming) — no signatures.
    # A qualifying pair appears at most 4× (once per agreeing chunk),
    # and hamming is a function of the pair, so distinct-after-filter
    # is row-identical to the former filter-after-distinct.
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs_cross(
    sig_a: DataFrame,
    sig_b: DataFrame,
    max_hamming: int = 3,
    nbits: int = 64,
    max_chunk_bucket: int | None = None,
    b_hot_buckets: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs ACROSS two corpora — the asymmetric twin
    of :func:`simhash_pairs`, completing the incremental-batch story
    for the second banding family (MinHash has
    :func:`minhash_lsh_pairs_cross`). Inputs are ``(id, sig)``
    signature frames: A = the new batch's fresh signatures (O(batch)
    tokenize), B = the corpus snapshot's persisted artifact
    (:meth:`..signature_store.SignatureStore.simhash` — a narrow
    two-column scan, never a re-tokenize). Both sides MUST share
    (nbits, portable); ids must be disjoint across sides — no
    ``id_a < id_b`` cut is applied, every A×B chunk collision is a
    candidate. Returns ``(id_a, id_b, hamming)`` with hamming ≤
    ``max_hamming``; the 4-chunk pigeonhole guarantee is unchanged
    (any pair within Hamming ≤ 3 agrees on ≥ 1 of 4 chunks).

    ``b_hot_buckets``: precomputed ``(chunk, cv)`` keys to drop on the
    corpus side (census rows already filtered to ``cnt > cap`` — the
    :meth:`..signature_store.SignatureStore.simhash_census` artifact),
    replacing the per-batch O(corpus) census shuffle
    ``max_chunk_bucket`` would run; same division of labor as the
    MinHash cross operator's ``b_hot_buckets``. The A side stays
    uncapped (a hot batch chunk multiplies work by at most |batch|).
    """
    chunk_bits = nbits // 4
    chunk_mask = (1 << chunk_bits) - 1

    def chunked(sig: DataFrame) -> DataFrame:
        return sig.select(
            "id",
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("chunk"),
                            F.shiftright(F.col("sig"), i * chunk_bits)
                            .bitwiseAND(F.lit(chunk_mask))
                            .alias("cv"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("ck"),
        ).select("id", "sig", "ck.chunk", "ck.cv")

    ca = chunked(sig_a)
    cb = chunked(sig_b)
    if b_hot_buckets is not None:
        cb = cb.join(
            b_hot_buckets.select("chunk", "cv"), ["chunk", "cv"], "left_anti"
        )
    elif max_chunk_bucket is not None:
        cb = drop_hot_buckets(
            cb.transform(materialize), ["chunk", "cv"], max_chunk_bucket
        )
    a = ca.alias("a")
    b = cb.alias("b")
    hamming = F.bit_count(
        F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    sample_mod: int = 1,
) -> DataFrame:
    """Exact substring-duplication spans: every ``window``-token
    sliding span whose content occurs more than once in the corpus —
    the span-level exact dedup from the training-data dedup
    literature (whole-document dedup misses boilerplate repeated
    INSIDE otherwise-distinct documents).

    Shape: tokenize once per doc → explode start positions → md5 the
    joined token slice → groupBy fingerprint keeping multiply-occurring
    spans → join occurrence stats back to the span table. Only
    (16-byte hash, id, pos) rows shuffle; the join back is equi on the
    hash and AQE-sized. Output: (id, pos, span_hash, n_occ, n_docs),
    1-based ``pos``.

    Cost is O(window × text) bytes hashed (each token lands in
    ``window`` span strings). ``sample_mod > 1`` keeps only spans
    whose own hash ≡ 0 (mod sample_mod) — CONTENT-defined selection
    (winnowing-style), so every copy of a duplicated span makes the
    same keep/drop decision regardless of its position or document.
    Positional striding would NOT work here: two documents sample
    different residue classes of start positions, so copies of the
    same span would be skipped on one side and kept on the other.
    Expected cost reduction is 1/sample_mod of the shuffle+groupBy;
    a duplicated region of L tokens carries L−window+1 distinct span
    contents, each selected i.i.d.-like, so the miss probability
    decays as (1−1/mod)^(L−window+1). md5 keeps spans
    engine-portable for differential verification.
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("t")
    ).filter(F.size("t") >= window)
    # sequence(1, n) requires n >= 1 — guaranteed by the filter above
    # (sequence(1, 0) would yield a DESCENDING [1, 0], not empty)
    starts = F.sequence(F.lit(1), F.size("t") - F.lit(window) + 1)
    wins = toks.select(
        "id",
        F.explode(starts).alias("pos"),
        "t",
    ).select(
        "id",
        "pos",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("t"), F.col("pos"), F.lit(window)))
        ).alias("span_hash"),
    )
    if sample_mod > 1:
        wins = wins.filter(
            F.pmod(
                F.conv(F.substring("span_hash", 1, 8), 16, 10).cast("long"),
                F.lit(sample_mod),
            )
            == 0
        )
    # Occurrence stats as stacked windows, NOT an aggregate joined
    # back: the join-back shape replays the span subtree (corpus
    # scan + explode + md5 of every ``window``-token slice — the
    # expensive part) once per consumer, which `parquet_scan_counts`
    # showed as 2 documents scans. Windows compute spans ONCE and
    # shuffle only (id, pos, hash) rows: first_occ marks one row per
    # (span, doc) so sum(first_occ) over the span partition is
    # count_distinct(id) exactly (no distinct-window support needed),
    # and n_occ is a plain count over the same partition — the second
    # window reuses the first's span_hash hash-partitioning, so the
    # doc-distinct count costs one extra sort, not an extra exchange.
    w_span_doc = Window.partitionBy("span_hash", "id").orderBy("pos")
    w_span = Window.partitionBy("span_hash")
    return (
        wins.withColumn(
            "first_occ",
            (F.row_number().over(w_span_doc) == 1).cast("long"),
        )
        .withColumn("n_occ", F.count(F.lit(1)).over(w_span))
        .withColumn("n_docs", F.sum("first_occ").over(w_span))
        .filter(F.col("n_occ") > 1)
        .select("id", "pos", "span_hash", "n_occ", "n_docs")
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Dataset-level n-gram overlap matrix: for every pair of corpus
    groups (sources), the Jaccard similarity of their distinct
    n-token-shingle SETS — the diagnostic that tells a curation
    pipeline which upstream dumps are near-copies of each other
    BEFORE doc-level dedup spends a shuffle on them (e.g. two
    CommonCrawl snapshots vs a curated dump).

    Scale design: the corpus-sized work is one distinct
    (group, shingle) projection of the inverted index the doc-level
    Jaccard path already builds — after it, every shingle has at most
    ``n_groups`` postings, so the pair join fans out ≤ n_groups² rows
    per shingle and the aggregate is map-side combinable on
    (group_a, group_b) keys (cardinality n_groups², tiny). No
    document-frequency cap is needed at this granularity: hot
    shingles cannot explode a posting list that is bounded by the
    number of groups.

    Group pairs sharing zero shingles are absent from the output
    (inner-join semantics, same contract as the doc-level pair
    queries). Returns (group_a, group_b, n_common, jaccard),
    ``group_a < group_b``, jaccard rounded to 6 dp.
    """
    # hashed (8-byte) shingle keys (r17, guide §2.3 narrower types):
    # the distinct (grp, sh) exchange, the cached set and the
    # self-join all carried ~20-char strings while the dedup siblings
    # already join on xxhash64; per-set distinct counts and pair
    # intersections are identical absent 1e-9 collisions (the
    # repo-wide hashed_postings stance)
    post = hashed_postings(df, id_col, text_col, n)
    src = df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp"))
    # three consumers (sizes + both self-join sides) — materialize the
    # distinct (group, shingle) set once or Catalyst rebuilds the whole
    # inverted index per branch (stance 5b)
    gs = (
        post.join(src, "id")
        .select("grp", "sh")
        .distinct()
        .transform(materialize)
    )
    sizes = gs.groupBy("grp").agg(F.count(F.lit(1)).alias("sz"))
    a = gs.alias("a")
    b = gs.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("group_a"), F.col("b.grp").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("grp").alias("group_a"), F.col("sz").alias("_sa"))
    sb = sizes.select(F.col("grp").alias("group_b"), F.col("sz").alias("_sb"))
    from .joins import hint_small

    return (
        inter.join(hint_small(sa), "group_a")
        .join(hint_small(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_sa") + F.col("_sb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list; fixpoint =
    per-component minimum node id.

    Duplicate-cluster canonicalization needs this because near-dup
    similarity is not transitive pairwise output (A~B, B~C but A≁C) —
    the cluster is the transitive closure of the pair graph.

    Two physical strategies behind one contract:

    - **edge list ≤ driver_threshold** (the normal case — near-dup
      pair graphs are a tiny fraction of the corpus even at web-scale
      dup rates): one eager materialization of the (already computed)
      edges, collect, union-find with path compression on the driver,
      parallelize the (node, component) map back out. O(E·α(E))
      driver work and zero shuffle rounds — replacing an O(diameter)
      sequence of join+agg jobs whose per-round scheduling overhead
      dominates at small |E|. Union-find is direction-agnostic, so
      this path counts/collects the UN-symmetrized edge list (half
      the rows, and — the measured cost at small |E| — half the
      logical tree Catalyst re-analyzes and canonicalizes per
      action); the symmetrization union is built only when the loop
      strategy is chosen.
    - **bigger than that**: iterative min-label propagation — every
      node starts labelled with itself; each round one shuffle join
      (labels ⋈ edges) + one groupBy min; O(diameter) rounds, and
      near-dup graphs are shallow (duplicate clusters are dense,
      diameter ≪ 10). Lineage is cut with ``localCheckpoint`` per
      round so the plan doesn't grow with the iteration count
      (Pregel-style loops otherwise recompute round k-1 inside
      round k).

    Returns ``(node, component)``.
    """
    # materialize the (often expensive) edge pipeline ONCE — the
    # strategy count, the driver-path collect and (loop path only) the
    # symmetrization union all read this one cache; without it each
    # consumer would re-run the whole upstream pair computation
    # (measured ~2× the pair-join cost on semantic_dedup /
    # dup_cluster_keep; stance 5b)
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).transform(materialize)
    # Strategy decision on the UN-symmetrized list: the union below is
    # a UNION ALL, so |sym| = 2·|e| exactly and the threshold
    # semantics are unchanged. Counting (and, in the driver path,
    # collecting) `e` instead of `sym` halves the logical tree each
    # action re-analyzes and canonicalizes for the cache lookup — at
    # small |E| that driver-side planning, not the data, is the
    # measured cost (the caller's full pair-generator tree — banded
    # self-join plus the 64-aggregate signatures — appears TWICE under
    # the union) — and the driver path stops paying the 2·|e|-row
    # union cache write entirely. Both actions stay single
    # full-parallel jobs (a limit-collect probe was tried and
    # regressed: CollectLimit scales up over partitions in SEQUENTIAL
    # jobs, each gated on the upstream shuffle).
    n_edges = 2 * e.count()

    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # union-find over the un-symmetrized list: (a,b) and (b,a)
        # produce the identical union, and the fixpoint (per-component
        # min node) is insertion-order-independent
        for row in e.collect():
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        node_type = e.schema["a"].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("component", node_type),
            ]
        )
        rows = [(n, comp_min[find(n)]) for n in parent]
        return e.sparkSession.createDataFrame(rows, schema)

    # loop path only: min-label propagation needs messages flowing in
    # BOTH directions, so symmetrize here (UNION ALL over the cached
    # edges; materialized because every round's join re-reads it)
    sym = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(materialize)

    # the loop frames keep localCheckpoint DELIBERATELY (the one
    # exception to the materialize() policy, with trade_pagerank):
    # lineage truncation is the point — persist() leaves the logical
    # plan growing with the round count, so Pregel-style loops
    # re-plan round k-1 inside round k
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        msgs = labels.join(sym, labels["node"] == sym["a"]).select(
            F.col("b").alias("node"), F.col("component")
        )
        new = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to its near-duplicate cluster and mark the
    canonical keeper (minimum id in the component; singletons keep
    themselves).

    Output: ``(doc_id, cluster_id, is_keep)`` — the row-level decision a
    curation pipeline applies after any pair generator
    (:func:`ngram_jaccard_pairs`, :func:`minhash_lsh_pairs`,
    :func:`simhash_pairs`). The component map holds only docs that
    appear in ≥1 pair — often small, but at web scale dup rates of
    30%+ make it a sizable fraction of the corpus, so the join is left
    un-hinted: AQE broadcasts it when it fits and shuffle-joins on
    doc_id when it doesn't.
    """
    comp = connected_components(pairs)
    d = df.select(F.col(id_col).alias("doc_id"))
    joined = d.join(comp, d["doc_id"] == comp["node"], "left")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return joined.select(
        "doc_id",
        cluster.alias("cluster_id"),
        F.when(cluster == F.col("doc_id"), 1).otherwise(0).alias("is_keep"),
    )
