"""§2.K — LLM-data-pipeline operators: dedup, similarity search, text
analysis (mandated by the north star alongside the log surface).

Scale design (the whole point of this section):
- Exact paths (pairwise Jaccard, brute-force cosine) are the ORACLE
  paths — correct by construction, quadratic, used at verification
  scale and as recall ground truth.
- Scalable paths (MinHash+LSH banding, SimHash hamming buckets,
  random-hyperplane ANN) reduce candidate pairs from O(n²) to
  near-linear via bucket joins, then verify candidates exactly. These
  are the 100 TB paths; tests assert their recall against the exact
  paths rather than hash-matching another engine's sketch.
- Everything is DataFrame ops — token explode + hash + groupBy — no
  MLlib dependency, no Python UDFs in any §2.K path.
"""

from __future__ import annotations

import operator
from collections.abc import Iterator  # resolvable if tooling evaluates hints

import pandas as pd  # annotations of Arrow-batched UDFs resolve via module globals

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logdb_spark.functions.ranking import bounded_global_window
from logdb_spark.functions.numeric import ratio
from logdb_spark.functions.vector import cosine_sim, dot, l2_norm
from logdb_spark.registry import register, track_persist
from logdb_spark.sources.load import load_table

SECTION = "2.K llm pipeline"

# ---------------------------------------------------------------- dedup

def _TOKENS():
    # built lazily: Column construction needs an active SparkContext
    return F.array_distinct(F.split("text", " "))


@register(
    "dedup_exact",
    oracle="""
        SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    section=SECTION,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one hash-groupBy pass; keeper is
    the minimum doc_id per group. The grouping key is the digest, so
    at 100 TB the shuffle carries 32-byte keys, not document bodies."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keeper_id", "n_copies")


_JACCARD_ORACLE = """
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.9
"""


def _BIGRAMS():
    """Distinct word-bigram shingles of ``text`` (order-preserving).

    zip_with(toks, toks[2:]) — NOT transform+element_at over an index
    sequence, which re-evaluates the split closure per element (O(w²)
    splits per row; measured 7× slower). zip_with pads the shorter
    side with null, so the final bigram is (last_word, null) → null
    concat → filtered."""
    toks = F.split("text", " ")
    grams = F.zip_with(
        toks,
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))


def _set_binding(d: DataFrame, sets):
    """(tok, sets_fn) for _set_pairs over the documents ``d`` and a
    per-doc distinct-set expression ``sets`` (_TOKENS or _BIGRAMS):
    the exploded (doc_id, token) relation, and a lazy builder of the
    (doc_id, toks, n) sorted-array relation."""

    def sets_fn():
        return d.select(
            "doc_id",
            F.array_sort(sets()).alias("toks"),
            F.size(sets()).alias("n"),
        )

    return d.select("doc_id", F.explode(sets()).alias("token")), sets_fn


def _word_sets(spark, sf_dir):
    """_set_binding over each document's distinct word set."""
    return _set_binding(load_table(spark, sf_dir, "documents"), _TOKENS)


def _bigram_sets(spark, sf_dir):
    """_set_binding over each document's distinct word bigrams."""
    return _set_binding(load_table(spark, sf_dir, "documents"), _BIGRAMS)


def _doc_tokens(spark, sf_dir):
    """(doc_id, token) pairs — distinct tokens per document."""
    return _word_sets(spark, sf_dir)[0]


# Vocabulary size up to which the dictionary is inlined as an array
# literal and ids resolve via array_position (a linear scan of the
# literal per token — cheap only while the vocabulary is tiny; the
# fixture word vocab is 31). Larger vocabularies broadcast-join a
# driver-built dictionary instead.
_LITERAL_DICT_MAX_VOCAB = 256

# Vocabulary cutoff for the dictionary-encoded bitmask kernel: one
# 64-bit word per 64 vocab terms per doc, so 4096 terms = 64 longs —
# past that the masks outweigh the token arrays and the generic
# kernel wins.
_BITMASK_MAX_VOCAB = 4096


def _bitmask_encode(spark, tok, sets_fn, vocab: list[str]) -> DataFrame:
    """(doc_id, toks: array<bigint> mask words, n) over the sorted
    dictionary ``vocab``: token id i sets bit i % 64 of word i // 64,
    so |A∩B| is sum(bit_count(a & b)) over the words — exact by
    construction (dictionary ids, no hashing)."""
    n_words = (len(vocab) + 63) // 64
    if len(vocab) <= _LITERAL_DICT_MAX_VOCAB:
        # Map-only dictionary encode: the vocabulary rides into the
        # plan as an array literal, each document's tokens resolve to
        # ids with array_position, and the per-chunk masks are
        # word-wide OR-folds — no explode, no join, no shuffle
        # anywhere in the mask build (the old pipeline shuffled the
        # exploded corpus twice). array_position is a linear scan of
        # the literal, so this path is gated to small vocabularies —
        # measured faster up to a few hundred terms, 1.7 s SLOWER at
        # the bigram ops' 961 terms. Expressions are parsed SQL
        # strings: the Column-API equivalent pays a py4j round-trip
        # per operator (the batch-2 finding).
        arr_sql = "array(" + ",".join(
            "'" + t.replace("\\", "\\\\").replace("'", "\\'")
            + "'" for t in vocab
        ) + ")"
        ids_sql = (
            f"transform(toks, t -> "
            f"CAST(array_position({arr_sql}, t) AS INT) - 1)"
        )
        mask_sqls = [
            (
                "aggregate(ids, CAST(0 AS BIGINT), (a, x) -> "
                f"IF(x >= {c * 64} AND x < {(c + 1) * 64}, "
                "a | shiftleft(CAST(1 AS BIGINT), x % 64), a))"
            )
            for c in range(n_words)
        ]
        masks = (
            sets_fn()
            .selectExpr("doc_id", f"{ids_sql} AS ids")
            .selectExpr(
                "doc_id",
                "array(" + ",".join(mask_sqls) + ") AS toks",
            )
        )
    else:
        # Larger (still ≤cap) vocabularies: broadcast-join the
        # driver-built dictionary against the exploded tokens and fold
        # all chunk masks in ONE groupBy — the old pipeline's
        # vocab-probe count, ranked-dictionary window, and second
        # groupBy (map_from_entries assembly) are gone; the dictionary
        # id is assigned on the driver from the already-collected
        # vocabulary instead of a single-partition row_number sort.
        dict_df = spark.createDataFrame(
            [(t, i) for i, t in enumerate(vocab)], "token string, tid int"
        )
        mask_aggs = [
            F.bit_or(
                F.expr(
                    f"IF(tid >= {c * 64} AND tid < {(c + 1) * 64}, "
                    "shiftleft(CAST(1 AS BIGINT), tid % 64), "
                    "CAST(0 AS BIGINT))"
                )
            ).alias(f"m{c}")
            for c in range(n_words)
        ]
        masks = (
            tok.join(F.broadcast(dict_df), "token")
            .groupBy("doc_id")
            .agg(*mask_aggs)
            .selectExpr(
                "doc_id",
                "array("
                + ",".join(f"m{c}" for c in range(n_words))
                + ") AS toks",
            )
        )
    return masks.selectExpr(
        "doc_id",
        "toks",
        "CAST(aggregate(toks, 0, (a, x) -> a + bit_count(x)) AS INT) AS n",
    )


def _set_pairs(
    spark,
    tok: DataFrame,
    sets_fn,
    threshold: float,
    *,
    metric: str = "jaccard",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity pairs (doc_a, doc_b, score), score ≥
    threshold (> 0) — the one pair sweep every set-similarity op
    projects.

    metric="jaccard": |A∩B| / |A∪B| over unordered pairs doc_a < doc_b.
    metric="containment": |A∩B| / |A| over ordered pairs doc_a ≠ doc_b
    (doc_a is the contained side). Empty sets score below any positive
    threshold and are dropped up front. ``tok``/``sets_fn`` are a
    _set_binding. With ``candidates`` (doc_a, doc_b) only those pairs
    are scored, in the orientation given.

    The kernel is chosen here, once, from what the input shows:
    - One bounded job collects the distinct vocabulary under a LIMIT
      of _BITMASK_MAX_VOCAB + 1 rows (≤4097 short strings, a transfer
      the size of a broadcast side). Past the cap the corpus is open-
      vocabulary and pairs intersect sorted token arrays
      (array_intersect); otherwise every set is dictionary-encoded
      into 64-bit mask words and |A∩B| is an unrolled bit_count sum.
    - With candidates: plain shuffle joins on doc_a / doc_b, never a
      broadcast hint — both sides are the FULL corpus set relation,
      which at 10^9+ docs is hundreds of GB per executor (VERDICT r8
      #2); AQE still broadcasts a side that is genuinely small. Over
      masks wider than two words Jaccard pairs first pass the 2-word
      fold screen.
    - Without candidates over masks wider than two words: the tiled
      Arrow/BLAS gemm (_tiled_bitmask_pairs). A nested-loop join's
      condition runs interpreted, ~2 µs/pair for a 16-word kernel
      (26 s at sf0.1 vs ~2 s tiled).
    - Otherwise (1–2 mask words, or open vocabulary): a broadcast
      nested-loop pair join over a repartitioned probe side, with the
      metric's size bound ahead of the kernel. For 1–2-word masks the
      interpreted condition is cheap and the JVM-pipelined output (no
      Arrow round trip of the ~1M-pair result) wins — 1.5 s vs 2.1 s
      tiled.
    """
    vocab_rows = (
        tok.select("token").distinct().limit(_BITMASK_MAX_VOCAB + 1)
    ).collect()  # driver-scalar: bounded ≤ _BITMASK_MAX_VOCAB+1 rows by the limit
    if len(vocab_rows) > _BITMASK_MAX_VOCAB:
        n_words = 0
        docs = sets_fn()
        kernel = F.size(F.array_intersect("toks_a", "toks_b"))
    else:
        n_words = (len(vocab_rows) + 63) // 64
        docs = _bitmask_encode(
            spark, tok, sets_fn, sorted(r[0] for r in vocab_rows)
        )
        # Unrolled per-word terms (n_words is a plan-time constant):
        # straight-line bit_count(a[c] & b[c]) sums in whole-stage
        # codegen, no per-pair intermediate array like
        # zip_with+aggregate would allocate — measured ~2× on the
        # 12.5M-pair sf0.1 join.
        terms = [
            F.bit_count(
                F.element_at("toks_a", c).bitwiseAND(F.element_at("toks_b", c))
            )
            for c in range(1, n_words + 1)
        ]
        kernel = sum(terms[1:], start=terms[0]).cast("int")
    if metric == "containment":
        order = F.col("doc_a") != F.col("doc_b")
        bound = F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na"))
        score = F.col("ns") / F.col("na")
    else:
        order = F.col("doc_a") < F.col("doc_b")
        bound = F.least("na", "nb") >= F.greatest("na", "nb") * F.lit(threshold)
        score = F.col("ns") / (F.col("na") + F.col("nb") - F.col("ns"))
    folds = ()
    if candidates is not None and n_words > 2 and metric == "jaccard":
        # Two 64-bit OR-folds of the mask words (odd/even stripes),
        # precomputed per doc. bit_count(fold∩fold) summed over the two
        # folds is an UPPER BOUND on |A∩B|: each dictionary id occupies
        # one bit of one fold in both docs, and fold collisions only
        # inflate the count. The screen evaluates 2 words per pair
        # instead of n_words — exact-safe.
        folds = ("fold0", "fold1")
        docs = docs.select(
            "*",
            *[
                F.expr(
                    " | ".join(
                        f"toks[{c}]" for c in range(f, n_words, 2)
                    )
                ).alias(name)
                for f, name in enumerate(folds)
            ],
        )
        # Jaccard ≥ t ⇔ |A∩B| ≥ t·(na+nb)/(1+t); keep the pair iff the
        # fold upper bound can still clear that floor.
        bound = bound & (
            (
                F.bit_count(F.col("fold0_a").bitwiseAND(F.col("fold0_b")))
                + F.bit_count(F.col("fold1_a").bitwiseAND(F.col("fold1_b")))
            )
            * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("na") + F.col("nb"))
        )
    if n_words:
        # eager: the pair join's sides (broadcast build + probe scan)
        # race on the cold cache and each re-run the mask build
        # otherwise (r13)
        docs = track_persist(docs, eager=True)
    # After the persist: pushed below it, the filter would re-run the
    # whole mask encode to recompute n.
    docs = docs.filter(F.col("n") > 0)
    if candidates is None:
        if n_words > 2:
            # the parquet-footer count sizes the tile blocks
            return _tiled_bitmask_pairs(
                spark, docs, threshold, sets_fn().count(), metric
            )
        # Spread the probe side across all cores: the fixture is one
        # small parquet file (one input split), and a broadcast
        # pair-join's parallelism equals the stream side's partition
        # count. The candidates path hash-exchanges on the join keys
        # anyway, so a round-robin repartition there would be a pure
        # extra shuffle of the corpus.
        docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def side(s):
        return docs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("toks").alias(f"toks_{s}"),
            F.col("n").alias(f"n{s}"),
            *[F.col(f).alias(f"{f}_{s}") for f in folds],
        )

    if candidates is None:
        pairs = side("a").join(F.broadcast(side("b")), order & bound)
    else:
        pairs = (
            candidates.join(side("a"), "doc_a")
            .join(side("b"), "doc_b")
            .filter(bound)
        )
    return (
        pairs.withColumn("ns", kernel)
        .select("doc_a", "doc_b", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


@register("dedup_near_jaccard", oracle=_JACCARD_ORACLE, section=SECTION)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (word-set Jaccard ≥ 0.9) via the all-pairs
    set sweep (_set_pairs; the nested-loop bitmask kernel at the
    fixture's 31-word vocabulary) — the recall ground truth for the
    LSH path. Quadratic: verification-scale only."""
    return _set_pairs(spark, *_word_sets(spark, sf_dir), 0.9).select(
        "doc_a", "doc_b", ratio(F.col("score")).alias("jaccard")
    )


# Connected components over the exact near-dup pairs, as a recursive
# transitive closure: a doc's canonical id is the MIN doc_id reachable
# through Jaccard≥0.9 edges (UNION dedups rows, so the recursion
# terminates at the closure fixpoint).
_CLUSTER_ORACLE = """
    WITH RECURSIVE tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT doc_a, doc_b
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.9
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.d FROM reach JOIN edges e ON e.s = reach.r
    )
    SELECT doc_id, MIN(r) AS canonical_id, (MIN(r) <> doc_id) AS is_dup
    FROM reach GROUP BY doc_id
"""


# Measured crossover (this host, warm, sf0.1=5000 docs): exact tiled
# gemm pairs 2.0s vs LSH candidates+verify 3.4s — the LSH pipeline's
# fixed costs (signature agg, banding explode, bucket-join distinct)
# only amortize once the all-pairs work grows past ~8k docs (exact is
# quadratic: ~8s at 10k docs, LSH ~4s and linear in dup density).
_LSH_CROSSOVER_DOCS = 8192


def _dup_pairs(spark, sf_dir, threshold: float = 0.9) -> DataFrame:
    """Verified near-dup pairs (Jaccard ≥ threshold) for the composites,
    picked by corpus size (the parquet-footer doc count): the exact
    all-pairs sweep up to _LSH_CROSSOVER_DOCS, MinHash-banded
    candidates + exact Jaccard verify above it (linear in true-dup
    density, the 100 TB shape; a 1000-executor corpus always takes
    this branch). The parity tests pin both paths identical on a
    sub-crossover fixture AND on a supra-crossover corpus, forcing the
    other branch by patching the crossover constant
    (tests/test_llm_ops.py::test_cluster_assign_lsh_matches_exact,
    ::test_dup_pairs_auto_lsh_above_crossover), and the composites'
    DuckDB oracles pin the exact ground truth every round. Both emit
    (doc_a, doc_b) with doc_a < doc_b.

    Recall discipline (ADVICE r5): a lost banding candidate that is an
    isolated 2-clique IS a lost cluster — cliques of size ≥3 survive a
    missing edge, pairs don't. The composite path therefore runs a
    DOUBLED banding (128 perms, 16 bands × 8 rows) instead of
    dedup_minhash_lsh's 64/8: admission at J=0.9 is 1-(1-0.9^8)^16 ≈
    0.99988 per pair (vs 0.989), i.e. a borderline isolated pair must
    miss in all 16 independent bands to drop. The residual ~1e-4 rate
    is the documented, standard MinHash-dedup property at corpus
    scale; at the oracle-gated fixture sizes the exact branch runs, so
    the oracle gate compares exact-vs-exact.
    """
    n_docs = load_table(spark, sf_dir, "documents").count()  # footer-only
    cands = (
        None
        if n_docs <= _LSH_CROSSOVER_DOCS
        else _minhash_candidates(
            spark, sf_dir, threshold, n_perm=2 * N_PERM, n_bands=2 * N_BANDS
        )
    )
    return _set_pairs(
        spark, *_word_sets(spark, sf_dir), threshold, candidates=cands
    ).select("doc_a", "doc_b")


@register("dedup_cluster_assign", oracle=_CLUSTER_ORACLE, section=SECTION)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP assignment — the step after pair finding: connected
    components over the near-dup graph, canonical doc = component-min
    doc_id, so a pipeline keeps exactly one representative per dup
    cluster (pairs alone can't say which doc to keep when A~B and B~C
    but A!~C).

    Iterative min-label propagation (HashToMin-style): each round is
    ONE shuffle join (edges ⋈ labels) + a groupBy min, labels only
    ever decrease, and the driver sees nothing but an 8-byte
    convergence checksum per round. Rounds = component diameter — ~2
    for near-dup clusters, O(log n) worst case — so at 100 TB this is
    a handful of bounded-key shuffles, not an n² closure (the n²
    closure lives in the DuckDB oracle, which recomputes the same
    components as a recursive CTE and pins the result exactly).

    Edges come from _dup_pairs' cost-based pair finding: past the
    measured crossover it takes the LSH-candidate + exact-verify path
    (banded MinHash buckets, no all-pairs sweep — the branch every
    at-scale corpus takes); below it the exact all-pairs sweep, where
    the LSH pipeline's fixed costs dominate. A parity pytest (which
    forces each branch by patching _LSH_CROSSOVER_DOCS) pins LSH-fed
    output ≡ exact-fed
    output at fixture scale (missing intra-clique edges cannot change
    connected components while the clique stays connected, and the
    banding's 0.989 admission at J=0.9 leaves cliques connected), and
    the DuckDB oracle pins the exact-ground-truth components.

    Constant-factor discipline (VERDICT r3 perf #1): near-dup graphs
    are clique-heavy (jac≥0.9 is nearly transitive — sf0.1 has ~1.9M
    directed edges over just ~2.9k member docs), so iterating the FULL
    edge set is waste. Two-level contraction instead:

      1. ``label0(v) = min(v, neighbors(v))`` — one groupBy over the
         symmetric edges, NO join (initial labels are the identity);
      2. contract: edges map to ``(label0(src), label0(dst))``
         distinct, dropping loops — a clique collapses to one node,
         so the contracted graph is proportional to #clusters, not
         #pairs;
      3. finish components on the CONTRACTED graph — cost-based (r5):
         below _CC_DRIVER_MAX_EDGES the #clusters-sized graph rides
         one bounded broadcast-order transfer to a driver union-find
         (replacing ~6 distributed jobs); past the bound, HashToMin +
         pointer doubling iterate distributed (_cc_loop, one
         checkpoint + one 8-byte action per round);
      4. compose ``label = cc(label0(v))`` and left-join back to all
         documents (docs in no pair are fixpoints by construction).

    The component minimum m survives contraction (label0(m) = m), so
    composing yields exactly the component-min labels the oracle pins.
    """
    # pairs persisted BEFORE the symmetric union — otherwise both union
    # branches recompute the whole pair-finding subtree.
    pairs = track_persist(
        _dup_pairs(spark, sf_dir),
        eager=True,  # both union branches race on the cold cache (r13)
    )
    sym = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
    # label0 = min over neighbors ∪ self — initial labels are identity,
    # so this is a bare partial-agg groupBy (map-side combine shrinks
    # the shuffle to one row per member per partition).
    # PERSIST, not localCheckpoint (r13, guide §1.2/§5): even a LAZY
    # localCheckpoint blocks the driver through full analysis +
    # physical planning + codegen of the upstream tree at call time —
    # measured 2.8 s for this subtree at sf0.1, ~3.4 s across the two
    # calls, more than the pair sweep itself. Lineage truncation is
    # only needed against the join-chain RECURSION of the iterative
    # _cc_loop finisher (whose per-round checkpoints remain); on the
    # non-iterative path the tree is three levels deep and the persist
    # bounds recompute (l0 is cluster-count-sized).
    l0 = track_persist(
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .withColumnRenamed("src", "doc_id")
    )
    # Contract over the DIRECTED pairs (half the rows of sym — the
    # reversed duplicates contract to the same edges) and symmetrize
    # the tiny contracted set afterwards.
    la = l0.select(F.col("doc_id").alias("doc_a"), F.col("label").alias("lsrc"))
    lb = l0.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("ldst"))
    ce = track_persist(
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("lsrc") != F.col("ldst"))
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        .distinct()
    )
    # Contracted-graph finisher, cost-based (the broadcast-threshold
    # idiom): the contraction collapsed cliques, so the surviving
    # graph is #clusters-sized — ~1.2k edges at sf0.1 for a 964k-pair
    # input. Below _CC_DRIVER_MAX_EDGES, union-find on the driver
    # replaces ~6 distributed jobs (seed + 2 propagation rounds + 3
    # convergence actions) with one bounded transfer (≤ 64k × 16 B =
    # 1 MB — the same order as a broadcast side, tagged and bounded).
    # Past the bound — a pathological non-clique-y graph at extreme
    # scale — the HashToMin + pointer-doubling loop below runs
    # unchanged; the parity pytest and the recursive-CTE oracle pin
    # both paths to the same components.
    n_cedges = ce.count()
    on_driver = n_cedges <= _CC_DRIVER_MAX_EDGES
    if on_driver:
        edge_rows = ce.collect()  # driver-scalar: bounded ≤64k contracted edges (≈1 MB), counted above
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in edge_rows:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                # union by min: the component minimum stays the root,
                # matching the component-min labels the oracle pins
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in parent]
        labels = spark.createDataFrame(
            mapping or [(-1, -1)], "doc_id bigint, label bigint"
        )
    else:
        # Truncate lineage only on the iterative path: _cc_loop joins
        # ce against itself round after round, and without a checkpoint
        # the logical tree would embed every prior round (the plan
        # recursion the original comment warned about). ce is already
        # materialized by the count above, so this checkpoint replans
        # only the cached scan, not the pair pipeline.
        labels = _cc_loop(spark, ce.localCheckpoint(eager=False))
    # Compose cc∘label0, then emit non-members (fixpoints: no edge can
    # lower their label) via one left join instead of iterating them.
    # Broadcast hint ONLY on the driver branch, where cc is bounded by
    # _CC_DRIVER_MAX_EDGES (≤1 MB); on the _cc_loop branch — which
    # engages precisely when the contracted graph is huge — cc is
    # unbounded, so Catalyst picks the strategy (ADVICE r5).
    cc = labels.select(F.col("doc_id").alias("c_id"), F.col("label").alias("c_lab"))
    cc = F.broadcast(cc) if on_driver else cc
    final = l0.join(cc, l0.label == cc.c_id, "left").select(
        "doc_id", F.coalesce("c_lab", "label").alias("label")
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(final, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("canonical_id"),
            (F.coalesce("label", "doc_id") != F.col("doc_id")).alias("is_dup"),
        )
    )


# Driver union-find engages only below this contracted-edge bound;
# 64k edges ≈ 1 MB — broadcast-sized. See dedup_cluster_assign.
_CC_DRIVER_MAX_EDGES = 65536


def _cc_loop(spark, ce: DataFrame) -> DataFrame:
    """HashToMin + pointer-doubling label propagation over the
    contracted graph — the distributed path for contracted graphs too
    big to finish on the driver. Returns (doc_id, label) with label =
    component minimum."""
    cedges = ce.union(
        ce.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Seed with the contracted graph's own min-neighbor labels — one
    # groupBy, and the loop starts a full propagation round ahead.
    labels = (
        cedges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .withColumnRenamed("src", "doc_id")
        .localCheckpoint(eager=False)
    )
    # Labels strictly decrease until fixpoint, so sum(label) is a
    # convergence checksum — one tiny aggregate action per round.
    checksum = labels.agg(F.sum("label")).collect()[0][0]  # driver-scalar: one 8-byte sum
    for _ in range(20):  # >> log₂(diameter) of any dup cluster; loud fail below
        combined = (
            cedges.join(labels, cedges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min(F.least("label", "src")).alias("label"))
            .withColumnRenamed("src", "doc_id")
        )
        # Pointer doubling: label <- label(label) squares the
        # propagation reach per round. `combined` is read twice and
        # recomputed, not checkpointed — two contracted-graph joins
        # cost less than a second materialization per round.
        hop = combined.select(
            F.col("doc_id").alias("l_id"), F.col("label").alias("l_lab")
        )
        labels = (
            combined.join(hop, combined.label == hop.l_id, "left")
            .select("doc_id", F.coalesce("l_lab", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        nxt_sum = labels.agg(F.sum("label")).collect()[0][0]  # driver-scalar: one 8-byte sum
        if nxt_sum == checksum:
            break
        checksum = nxt_sum
    else:
        raise RuntimeError("label propagation did not converge in 20 rounds")
    return labels


_NGRAM_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]))) AS grams
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
                 (len(a.grams) + len(b.grams)
                  - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
          (len(a.grams) + len(b.grams)
           - len(list_intersect(a.grams, b.grams))) >= 0.5
"""


def _tiled_bitmask_pairs(
    spark,
    masks_df: DataFrame,
    threshold: float,
    n_docs: int,
    metric: str,
) -> DataFrame:
    """Tiled all-pairs scoring over dictionary bitmasks: (doc_a, doc_b,
    score) for every pair with score ≥ threshold — _set_pairs' kernel
    for masks wider than two words. metric="jaccard"
    (symmetric, emits doc_a < doc_b) or "containment" (asymmetric
    |A∩B|/|A|, emits ORDERED pairs (contained, container) — both
    orientations of each tile are scored).

    Docs are hashed into size-adaptive blocks (~600 docs each, floor
    8); the block PAIRS become rows and one Arrow kernel per tile
    computes the full intersection matrix as a BLAS gemm over the
    unpacked 0/1 bit matrix (exact — see tile_kernel). This replaces a
    broadcast nested-loop join whose per-pair condition ran INTERPRETED
    (BNLJ conditions sit outside whole-stage codegen) — 26s at sf0.1
    for 12.5M pairs. At 100 TB the tiling bounds memory to one
    tile and shuffles each block √tiles times; callers remain declared
    O(n²) exact twins (LSH ops are the scale path).

    ``masks_df`` needs (doc_id, toks: array<bigint> bitmask words, n);
    ``n_docs`` (the parquet-footer count) sizes the blocks.
    """
    import numpy as np

    # Block count adapts to corpus size: ~600 docs per block bounds one
    # tile's popcount matrix (600² × W words) regardless of n, and the
    # floor of 8 blocks keeps ≥36 concurrent tiles. The old fixed 32
    # blocks made 528 tiles even for 500 docs — per-tile Arrow/schedule
    # overhead dominated (measured 3.0s → 2.2s at sf0.1 with 8 blocks).
    n_blocks = max(8, -(-n_docs // 600))
    block = (
        masks_df
        .groupBy((F.col("doc_id") % n_blocks).cast("int").alias("blk"))
        .agg(F.collect_list(F.struct("doc_id", "toks", "n")).alias("docs"))
    )
    tiles = (
        block.alias("x")
        .join(block.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.blk").alias("blk_a"),
            F.col("y.blk").alias("blk_b"),
            F.col("x.docs").alias("docs_a"),
            F.col("y.docs").alias("docs_b"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def tile_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Intersection counts via BLAS gemm over the unpacked 0/1 bit
        # matrix: |A∩B| = bits_a · bits_b (exact — counts ≤ vocab bits
        # < 2²⁴ are exact in float32). This replaced a popcount-table
        # gather (pop16[anded.view(uint16)]) that materialized a
        # 600²×W-word tensor per tile: ~190 MB of memory traffic per
        # tile, which collapsed under concurrency — on this host 32
        # parallel copies of the gather kernel ran NO faster than one
        # (bandwidth-starved: measured 5.6 s/proc vs 0.26 s alone),
        # the r4 bench's unexplained 2.8→6.5 s regression. The gemm is
        # cache-blocked (~7 MB/tile traffic): 22 ms/tile alone, 90 ms
        # under full 32-way contention — bandwidth-immune, ~50× faster
        # in-suite. Bit order within a word is irrelevant: both sides
        # unpack identically, and the dot product counts position
        # matches 1:1 with mask-bit matches.

        def unpack(cell):
            ids = np.array([r["doc_id"] for r in cell], dtype=np.int64)
            masks = np.array([r["toks"] for r in cell], dtype=np.int64)
            bits = np.unpackbits(masks.view(np.uint8), axis=1).astype(
                np.float32
            )
            ns = np.array([r["n"] for r in cell], dtype=np.int64)
            return ids, bits, ns

        for pdf in batches:
            outs = []
            for blk_a, blk_b, docs_a, docs_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["docs_a"], pdf["docs_b"]
            ):
                ia, ba, na = unpack(docs_a)
                ib, bb, nb = unpack(docs_b)
                inter = np.rint(ba @ bb.T).astype(np.int64)
                if metric == "containment":
                    # Asymmetric: row-doc contained in col-doc is
                    # inter/|row|; the transposed orientation divides
                    # by |col| instead. Same-block tiles already
                    # enumerate every ORDERED (i, j) pair, so only
                    # the diagonal is dropped; cross-block tiles need
                    # both orientations scored explicitly.
                    with np.errstate(divide="ignore", invalid="ignore"):
                        c_ab = inter / na[:, None]
                    hit = c_ab >= threshold
                    if blk_a == blk_b:
                        hit &= ia[:, None] != ib[None, :]
                    ha, hb = np.nonzero(hit)
                    outs.append((ia[ha], ib[hb], c_ab[ha, hb]))
                    if blk_a != blk_b:
                        with np.errstate(
                            divide="ignore", invalid="ignore"
                        ):
                            c_ba = inter / nb[None, :]
                        h2a, h2b = np.nonzero(c_ba >= threshold)
                        outs.append((ib[h2b], ia[h2a], c_ba[h2a, h2b]))
                    continue
                union = na[:, None] + nb[None, :] - inter
                with np.errstate(divide="ignore", invalid="ignore"):
                    jac = inter / union
                hit = jac >= threshold
                if blk_a == blk_b:
                    # same-block tile: docs_a == docs_b, each unordered
                    # pair appears at (i,j) AND (j,i) — keep one
                    hit &= ia[:, None] < ib[None, :]
                ha, hb = np.nonzero(hit)
                # cross-block ids are interleaved by the hash blocking,
                # so orient each emitted pair explicitly; stay in numpy
                # end-to-end (per-element list appends measured ~1s on
                # the 964k-pair J≥0.9 output at sf0.1)
                outs.append(
                    (np.minimum(ia[ha], ib[hb]),
                     np.maximum(ia[ha], ib[hb]),
                     jac[ha, hb])
                )
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate([o[0] for o in outs]) if outs else empty,
                    "doc_b": np.concatenate([o[1] for o in outs]) if outs else empty,
                    "score": np.concatenate([o[2] for o in outs]) if outs else empty.astype(float),
                }
            )

    return tiles.mapInPandas(
        tile_kernel, "doc_a bigint, doc_b bigint, score double"
    )


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, section=SECTION)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-BIGRAM shingle Jaccard ≥ 0.5 — the
    n-gram variant keeps word ORDER, so reorderings that word-set
    Jaccard scores as identical score low here (the fixture's true
    dups separate cleanly: ≥0.9 vs ≤0.3 on this metric).

    Pair loop: TILED all-pairs over the dictionary bitmasks. The
    broadcast nested-loop join this replaces evaluated the 16-word
    popcount condition INTERPRETED per pair (BNLJ conditions sit
    outside whole-stage codegen) — 26s at sf0.1 for 12.5M pairs, and
    the 2-word fold screen couldn't help because the screen itself ran
    per-pair in the same interpreter. Here docs are hashed into
    size-adaptive blocks, the block PAIRS become rows, and one Arrow
    kernel per tile computes the full intersection matrix as a BLAS
    gemm over unpacked bit matrices — ~200× less per-pair overhead,
    cache-blocked so 32-way concurrency doesn't starve memory
    bandwidth (the r4 2.8→6.5s regression: see tile_kernel), parallel
    across tiles, no driver collect. At 100 TB the same tiling bounds
    memory to one tile and shuffles each block √tiles times; this op
    stays the declared O(n²) exact twin either way (dedup_minhash_lsh
    is the scale path).

    Bigram vocabulary is O(word_vocab²); _set_pairs picks the kernel
    from it (here 31 words → ≤961 bigrams → 16-word masks → tiles;
    open vocabularies intersect sorted arrays instead).
    """
    pairs = _set_pairs(spark, *_bigram_sets(spark, sf_dir), 0.5)
    # ratio() JVM-side: numpy rounding is half-even, DuckDB half-away
    return pairs.select("doc_a", "doc_b", ratio(F.col("score")).alias("jaccard"))


N_PERM = 64  # minhash permutations
N_BANDS = 8  # LSH bands of N_PERM / N_BANDS rows each

# Engine-neutral MinHash permutations (r8, VERDICT r7 item #3): the
# permutation family is h_i(t) = (A_i * h32(t) + B_i) mod P where
# h32(t) is the first 8 md5 hex digits of the token as an integer and
# A_i/B_i are md5-derived odd/even constants < 2^29. Every quantity is
# computable bit-identically in any engine with md5 + 64-bit integer
# arithmetic (A_i * h32 < 2^61, no overflow anywhere), which upgrades
# dedup_minhash_lsh from rows-only to a full DuckDB hash-check — the
# same derandomization trick agg_count_min_sketch proved out.
_MH_PRIME = 4294967311  # smallest prime > 2^32


def _mh_consts(n_perm: int) -> tuple[list[int], list[int]]:
    import hashlib

    def c(tag: str, i: int) -> int:
        return int(hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:7], 16)

    # A odd (a proper multiplicative constant), both < 2^29.
    return (
        [c("mh_a", i) * 2 + 1 for i in range(n_perm)],
        [c("mh_b", i) for i in range(n_perm)],
    )


def _h32(col) -> "F.Column":
    """First 8 md5 hex digits of a string column as a bigint in
    [0, 2^32) — identical in Spark (conv) and DuckDB ('0x' cast)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _minhash_oracle_sql(
    threshold: float = 0.9,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    *,
    incremental: bool = False,
    survivors: bool = False,
    decontaminate: bool = False,
) -> str:
    """DuckDB restatement of the full MinHash+LSH pipeline — same
    md5-derived permutations, band buckets, size-ratio bound, and
    exact-Jaccard verify as the Spark side, so the candidate set (not
    just the final filter) is engine-reproducible. With
    ``incremental=True``, candidates are restricted to pairs touching
    the new batch (doc_id % 10 = 0) and a pair_type column labels
    new_new vs new_old (the dedup_incremental_minhash contract). With
    ``survivors=True``, the output is instead the DEDUPED CORPUS:
    every doc that is not the greater member of any verified pair
    (min-id-wins pairwise drop — the stream_dedup_minhash contract)."""
    a, b = _mh_consts(n_perm)
    r = n_perm // n_bands
    mins = ",\n               ".join(
        f"MIN(({a[i]} * h32 + {b[i]}) % {_MH_PRIME}) AS m{i}"
        for i in range(n_perm)
    )
    band_structs = ",\n            ".join(
        "{'band': %d, 'bucket': md5(%s)}"
        % (
            bb,
            " || ',' || ".join(
                f"CAST(m{bb * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for bb in range(n_bands)
    )
    if decontaminate:
        # doc_a = eval-set doc, doc_b = training doc (distinct sides,
        # so no least/greatest normalization).
        cand = f"""
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bucket = y.bucket
            JOIN srcs sx ON sx.doc_id = x.doc_id AND sx.source = 'src0'
            JOIN srcs sy ON sy.doc_id = y.doc_id AND sy.source <> 'src0'
            WHERE LEAST(x.n, y.n) >= GREATEST(x.n, y.n) * {threshold}
        """
        final_cols = ""
    elif incremental:
        cand = f"""
            SELECT DISTINCT LEAST(x.doc_id, y.doc_id) AS doc_a,
                            GREATEST(x.doc_id, y.doc_id) AS doc_b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id <> y.doc_id
             AND x.doc_id % 10 = 0
             AND LEAST(x.n, y.n) >= GREATEST(x.n, y.n) * {threshold}
        """
        final_cols = """,
               CASE WHEN s.doc_a % 10 = 0 AND s.doc_b % 10 = 0
                    THEN 'new_new' ELSE 'new_old' END AS pair_type"""
    else:
        cand = f"""
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id
             AND LEAST(x.n, y.n) >= GREATEST(x.n, y.n) * {threshold}
        """
        final_cols = ""
    srcs_cte = (
        ", srcs AS (SELECT doc_id, source FROM documents)"
        if decontaminate
        else ""
    )
    if survivors:
        survivors_ctes = f""", verified AS (
            SELECT s.doc_a, s.doc_b
            FROM shared s
            JOIN sizes na ON na.doc_id = s.doc_a
            JOIN sizes nb ON nb.doc_id = s.doc_b
            WHERE s.n_shared / (na.n + nb.n - s.n_shared) >= {threshold}
        )"""
        final_select = """SELECT sz.doc_id, CAST(sz.n AS BIGINT) AS n_tokens
        FROM sizes sz
        WHERE NOT EXISTS (
            SELECT 1 FROM verified v WHERE v.doc_b = sz.doc_id
        )"""
    elif decontaminate:
        survivors_ctes = ""
        final_select = f"""SELECT s.doc_b AS doc_id, s.doc_a AS eval_doc_id,
               ROUND(s.n_shared / (na.n + nb.n - s.n_shared), 6) AS jaccard
        FROM shared s
        JOIN sizes na ON na.doc_id = s.doc_a
        JOIN sizes nb ON nb.doc_id = s.doc_b
        WHERE s.n_shared / (na.n + nb.n - s.n_shared) >= {threshold}"""
    else:
        survivors_ctes = ""
        final_select = f"""SELECT s.doc_a, s.doc_b,
               ROUND(s.n_shared / (na.n + nb.n - s.n_shared), 6) AS jaccard
               {final_cols}
        FROM shared s
        JOIN sizes na ON na.doc_id = s.doc_a
        JOIN sizes nb ON nb.doc_id = s.doc_b
        WHERE s.n_shared / (na.n + nb.n - s.n_shared) >= {threshold}"""
    return f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), h AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT)
                       AS h32
            FROM tok
        ), sig AS (
            SELECT doc_id, COUNT(*) AS n,
               {mins}
            FROM h GROUP BY doc_id
        ), bands AS (
            SELECT doc_id, n, u.band AS band, u.bucket AS bucket
            FROM sig, UNNEST([
            {band_structs}
            ]) AS t(u)
        ){srcs_cte}, cand AS (
            {cand}
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
        ), shared AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
            FROM cand c
            JOIN tok ta ON ta.doc_id = c.doc_a
            JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
            GROUP BY c.doc_a, c.doc_b
        ){survivors_ctes}
        {final_select}
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle_sql(), section=SECTION)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable near-dup: MinHash signatures + LSH banding + exact
    verify of candidates. FULLY hash-checked against DuckDB since r8:
    the md5-derived permutation family (see _mh_consts) makes the
    signatures — and therefore the candidate set — a pure function of
    the data, so the oracle recomputes the entire pipeline rather than
    settling for a rows-only count (tests additionally assert ≥95%
    recall vs dedup_near_jaccard).

    Pipeline (all DataFrame ops, one aggregation computes all 64
    permutation minima in a single pass — no per-permutation join):
      tokens -> h32 = md5-word -> 64× (A·h32+B) mod P -> groupBy(doc)
      elementwise min -> md5 band buckets -> groupBy(band, bucket)
      bucket join -> candidate pairs -> exact Jaccard on candidates.
    At 100 TB candidates are ~linear in true-dup density instead of
    O(n²), and each stage is a plain shuffle on bounded keys.

    Tuning (measured at sf0.1, 5000 docs / 964k true pairs — this
    corpus is adversarially dense: 7.7% of ALL pairs are true dups):
    - r=8 rows per band (64 perms / 8 bands): candidate admission is
      1-(1-J^8)^8 — 0.989 at J=0.9 (recall holds) but only 0.38 at
      J=0.7, so the dense 0.6-0.8 mass this vocabulary generates is
      pruned ~2.5x harder than the old 32-perm r=4 banding.
    - The signature relation (5000 x 65 ints) feeds three subtrees
      (banding + both sides of the verify); persisting it stops the
      tokenize+64-min aggregation re-running per subtree. Together:
      55s -> ~4.5s for the full pipeline (exact-verify path alone is
      11.5s — LSH now beats exact even on this dense corpus).
    - A signature-agreement prefilter before the exact verify was
      tried and REMOVED: it cut candidates only 22% (the banding
      already filters on the same evidence) while adding two joins.
    """
    candidates = _minhash_candidates(spark, sf_dir)
    return _set_pairs(
        spark, *_word_sets(spark, sf_dir), 0.9, candidates=candidates
    ).select("doc_a", "doc_b", ratio(F.col("score")).alias("jaccard"))


def _minhash_sig_df(
    tok: DataFrame, *, n_perm: int = N_PERM
) -> DataFrame:
    """(doc_id, n, m0..m{n_perm-1}) signature relation from a
    (doc_id, token) relation. The md5 + n_perm multiply-mods are
    evaluated once per DISTINCT token in a broadcast dictionary
    (vocabulary ≪ corpus by Heaps' law; AQE falls back to a shuffle
    join if it ever isn't), so per-token-row work is a broadcast probe
    + n_perm column mins.

    Expressions are built as SQL strings, not Column arithmetic (r13,
    guide §4 — the Python boundary applies to PLAN CONSTRUCTION too):
    the n_perm-wide projection/aggregate cost ~700 ms of py4j
    round-trips per call via the Column API (profiled: the whole
    per-micro-batch planning stall in stream_dedup_minhash), vs
    ~130 ms as parsed strings. The analyzed expressions are identical
    (integer literals carry an explicit L suffix so the arithmetic
    stays bigint exactly as F.lit promoted it)."""
    a_c, b_c = _mh_consts(n_perm)
    tok_dict = (
        tok.select("token")
        .distinct()
        .withColumn("h32", _h32("token"))
        .selectExpr(
            "token",
            *[
                f"({a_c[i]}L * h32 + {b_c[i]}L) % {_MH_PRIME}L AS p{i}"
                for i in range(n_perm)
            ],
        )
    )
    return (
        tok.join(F.broadcast(tok_dict), "token")
        .groupBy("doc_id")
        .agg(
            F.expr("count(1) AS n"),  # distinct-token count, free here
            *[F.expr(f"min(p{i}) AS m{i}") for i in range(n_perm)],
        )
    )


def _bands_from_sig(
    sig: DataFrame,
    *,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only (doc_id, n, band, bucket) band rows from a signature
    relation — bucket = md5 of the comma-joined per-band minima.
    ``carry`` names extra columns to keep on each band row (e.g. a
    verify payload, so the band join's output needs no corpus join).

    Built as one parsed SQL string instead of nested Column calls
    (r13, guide §4): the n_bands × rows_per_band struct array cost
    ~950 ms of py4j round-trips per call via the Column API — pure
    driver-side plan-construction stall, paid per micro-batch on the
    streaming path. Same analyzed expression either way."""
    rows_per_band = n_perm // n_bands
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws(',', {cols})) AS bucket)".format(
            b=b,
            cols=", ".join(
                f"CAST(m{b * rows_per_band + r} AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return sig.selectExpr(
        "doc_id",
        "n",
        *carry,
        f"explode(array({structs})) AS bb",
    ).select("doc_id", "n", *carry, "bb.band", "bb.bucket")


def _minhash_bands(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """(doc_id, n, band, bucket) LSH band rows over the md5-affine
    signature family — the shared front half of _minhash_candidates,
    dedup_incremental_minhash, text_fuzzy_decontaminate and
    (batch-at-a-time, via the df-level halves above)
    stream_dedup_minhash; _band_join is the shared back half. The
    signature relation is persisted: banding and both sides of the
    exact verify read it."""
    # NOT eager (r13 A/B): the band self-join's sides race on this
    # cache cold and duplicate the aggregation, but the aggregation is
    # a WIDE 64-task stage — the duplicates run concurrently on
    # otherwise-idle cores, so serializing an up-front count() cost
    # more wall than the race (+1.7 s on dedup_incremental_minhash).
    sig = track_persist(
        _minhash_sig_df(_doc_tokens(spark, sf_dir), n_perm=n_perm)
    )
    return _bands_from_sig(sig, n_perm=n_perm, n_bands=n_bands)


def _minhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    *,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """MinHash-banded LSH candidate pairs (doc_a < doc_b) — the shared
    pair-finding front end for dedup_minhash_lsh AND the composites
    (dedup_cluster_assign → keep_best → clean_pipeline). Linear in
    true-dup density; every stage shuffles on bounded keys.

    n_perm/n_bands tune the admission curve 1-(1-J^r)^b (r = rows per
    band). dedup_minhash_lsh uses 64/8 (recall-floor-tested); the
    composites pass 128/16 — same r=8 selectivity knee, double the
    independent bands, so per-pair admission at J=0.9 rises 0.989 →
    0.99988 (the 2-clique-loss guard, see _dup_pairs). The signature
    aggregation stays ONE pass either way — 128 mins instead of 64 in
    the same groupBy.

    r8: the permutations are the md5-derived affine family (see
    _mh_consts) instead of murmur3(token, seed); band buckets are md5
    of the comma-joined minima. Everything downstream of the raw text
    is engine-neutral, which is what lets dedup_minhash_lsh carry a
    real DuckDB oracle. The md5 + 64 multiply-mods are evaluated once
    per DISTINCT token in a broadcast dictionary (vocabulary ≪ corpus
    by Heaps' law — 31 words here, and at 100 TB still dictionary-
    sized; AQE falls back to a shuffle join if it ever isn't), so the
    per-token-row work is a broadcast probe + 64 column mins — the
    same trick cut the bench cost of the derandomization from +79% to
    ~par with the old murmur3 path. Semantics are identical to
    inlining the hash per row; the oracle keeps the inline form."""
    bands = _minhash_bands(spark, sf_dir, n_perm=n_perm, n_bands=n_bands)
    return (
        _band_join(bands, bands, threshold, operator.lt)
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _band_join(
    left: DataFrame, right: DataFrame, threshold: float, pair=None
) -> DataFrame:
    """The MinHash band join — the one place that states the admission
    rule: same band, same bucket, and sizes within the Jaccard bound
    ``least(n) >= greatest(n) * threshold`` (a pair whose distinct-token
    counts differ by more cannot reach the threshold, so it never
    enters the caller's distinct shuffle or verify). ``left`` and
    ``right`` are band relations (doc_id, n, band, bucket, ...), aliased
    "l" and "r" in the result; ``pair`` is the caller's orientation
    predicate over (l.doc_id, r.doc_id) — ``operator.lt`` for a self
    join, ``operator.ne`` when one side is a subset of the other, None
    across disjoint sides. Which side is broadcast, the projection and
    any distinct stay with the caller."""
    cond = (F.col("l.band") == F.col("r.band")) & (
        F.col("l.bucket") == F.col("r.bucket")
    )
    if pair is not None:
        cond = cond & pair(F.col("l.doc_id"), F.col("r.doc_id"))
    cond = cond & (
        F.least("l.n", "r.n") >= F.greatest("l.n", "r.n") * F.lit(threshold)
    )
    return left.alias("l").join(right.alias("r"), cond)


@register(
    "dedup_incremental_minhash",
    oracle=_minhash_oracle_sql(incremental=True),
    section=SECTION,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: dedup a NEW BATCH against the existing
    corpus without re-pairing the corpus against itself — the
    production shape of MinHash dedup at 100 TB, where the corpus
    grows daily and a full re-dedup is quadratic waste. The fixture's
    batch is doc_id % 10 = 0 (10% of docs, a deterministic stand-in
    for "today's ingest").

    Pipeline: band rows for everything (at scale the corpus side is a
    STORED index — signatures are data, built once per doc ever, the
    payoff of the md5-derived family being reproducible), then the
    bucket join keeps only pairs with ≥1 new member: the NEW side's
    bands (small) broadcast against the full band relation, so
    candidate volume is linear in batch size × bucket density, never
    corpus². Pairs are normalized (doc_a < doc_b), exact-verified, and
    labeled new_new (intra-batch dup) vs new_old (batch duplicates an
    existing doc — the row a pipeline drops). Same md5-affine
    signature family as dedup_minhash_lsh, so the DuckDB oracle
    recomputes the whole thing, candidates included."""
    bands = _minhash_bands(spark, sf_dir)
    new_bands = bands.filter(F.col("doc_id") % 10 == 0)
    threshold = 0.9
    cand = (
        _band_join(bands, F.broadcast(new_bands), threshold, operator.ne)
        .select(
            F.least("r.doc_id", "l.doc_id").alias("doc_a"),
            F.greatest("r.doc_id", "l.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pair_type = F.when(
        (F.col("doc_a") % 10 == 0) & (F.col("doc_b") % 10 == 0),
        F.lit("new_new"),
    ).otherwise(F.lit("new_old"))
    return _set_pairs(
        spark, *_word_sets(spark, sf_dir), threshold, candidates=cand
    ).select(
        "doc_a",
        "doc_b",
        ratio(F.col("score")).alias("jaccard"),
        pair_type.alias("pair_type"),
    )


@register(
    "text_fuzzy_decontaminate",
    oracle=_minhash_oracle_sql(decontaminate=True),
    section=SECTION,
)
def text_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination (r8): flag TRAINING docs that
    are near-duplicates (J ≥ 0.9) of an EVAL-SET doc — the MinHash
    complement of text_decontaminate's exact-shingle blocklist, and
    the method the public corpus-curation literature uses when eval
    items get paraphrased/reflowed into crawls. The fixture's eval set
    is source='src0' (5% of docs, a deterministic stand-in for a held
    benchmark); training = every other source.

    Cross-corpus candidate generation only — eval bands (small)
    broadcast against training bands, so cost is |eval| × bucket
    density, never corpus²; training×training pairs are never
    generated (that's dedup's job). Exact Jaccard verify on candidates
    keeps precision 1.0. Emits one row per contaminated (train, eval)
    pair; the cleaned corpus is an anti-join away. Same md5-affine
    family as the dedup ops, so the oracle recomputes candidates +
    verify."""
    threshold = 0.9
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bands = _minhash_bands(spark, sf_dir).join(src, "doc_id")
    ev = bands.filter(F.col("source") == "src0")
    tr = bands.filter(F.col("source") != "src0")
    cand = (
        _band_join(tr, F.broadcast(ev), threshold)
        .select(
            F.col("r.doc_id").alias("doc_a"),  # eval side
            F.col("l.doc_id").alias("doc_b"),  # training side
        )
        .distinct()
    )
    return _set_pairs(
        spark, *_word_sets(spark, sf_dir), threshold, candidates=cand
    ).select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("eval_doc_id"),
        ratio(F.col("score")).alias("jaccard"),
    )


N_SIMHASH_BITS = 64
N_SIMHASH_CHUNKS = 4  # 16-bit chunks for hamming-candidate bucketing


def _simhash_oracle_sql() -> str:
    """DuckDB restatement of the md5-word SimHash pipeline. The
    fingerprint lives as (doc_id, bit-index, bit) rows instead of a
    packed int64 — DuckDB BIGINT has no two's-complement wraparound
    for bit 63, and the relational form needs none: chunk values are
    16-bit partial sums and hamming is a 64-row bit-disagreement
    count. Spark's packed bit k ≡ this table's k row, so candidates
    and distances agree exactly."""
    return """
        WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), w AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT) AS w0,
                   CAST(('0x' || substring(md5(token), 9, 8)) AS BIGINT) AS w1
            FROM tok
        ), votes AS (
            SELECT doc_id, kk.k AS k,
                   SUM((((CASE WHEN kk.k < 32 THEN w0 ELSE w1 END)
                         >> (kk.k % 32)) & 1) * 2 - 1) AS v
            FROM w CROSS JOIN (SELECT UNNEST(range(64)) AS k) kk
            GROUP BY doc_id, kk.k
        ), bits AS (
            SELECT doc_id, k, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit
            FROM votes
        ), chunks AS (
            SELECT doc_id, k // 16 AS chunk,
                   SUM(bit * (1 << (k % 16))) AS val
            FROM bits GROUP BY doc_id, k // 16
        ), cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM chunks x JOIN chunks y
              ON x.chunk = y.chunk AND x.val = y.val
             AND x.doc_id < y.doc_id
        ), ham AS (
            SELECT c.doc_a, c.doc_b,
                   SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
                       AS hamming
            FROM cand c
            JOIN bits ba ON ba.doc_id = c.doc_a
            JOIN bits bb ON bb.doc_id = c.doc_b AND bb.k = ba.k
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
        FROM ham WHERE hamming <= 3
    """


@register("dedup_simhash", oracle=_simhash_oracle_sql(), section=SECTION)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit sign-of-weighted-bit fingerprints, then
    candidate pairs from shared 16-bit chunks (a fingerprint pair with
    hamming ≤ 3 must agree on ≥1 of 4 chunks — pigeonhole), verified by
    exact hamming distance via bit_count(xor). FULLY hash-checked
    against DuckDB since r8: token bits come from the two 32-bit md5
    words instead of xxhash64, so the fingerprints are
    engine-reproducible and the oracle recomputes candidates AND
    distances (tests additionally assert fingerprint determinism and
    the hamming bound).
    """
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    # md5 + hex-parse once per DISTINCT token via a broadcast
    # dictionary (31-word vocabulary; same rationale as
    # _minhash_candidates), not per token row.
    raw = d.select("doc_id", F.explode(_TOKENS()).alias("token"))
    tok_dict = (
        raw.select("token")
        .distinct()
        .withColumn("hx", F.md5("token"))
        .select(
            "token",
            F.conv(F.substring("hx", 1, 8), 16, 10)
            .cast("bigint")
            .alias("w0"),
            F.conv(F.substring("hx", 9, 8), 16, 10)
            .cast("bigint")
            .alias("w1"),
        )
    )
    tok = raw.join(F.broadcast(tok_dict), "token").select(
        "doc_id", "w0", "w1"
    )

    # Token hashing stays JVM-side (md5 + conv); the 64 per-bit ±1
    # sums + fingerprint packing move into one Arrow batch kernel. The
    # unrolled Catalyst form (64 conditional sums + a 64-term
    # shiftleft fold) cost ~1.8s of plan ANALYSIS per query while
    # execution was ~free — same pathology and fix as _signature_udf.
    @F.pandas_udf("bigint")
    def simhash_of(words: pd.Series) -> pd.Series:
        bitpos = np.arange(N_SIMHASH_BITS, dtype=np.uint64)
        out = []
        for ws in words:
            # each element is [w0, w1]: two 32-bit md5 words; bit k of
            # the combined uint64 is bit k of w0 (k<32) / bit k-32 of
            # w1 — the same layout the oracle's CASE expression reads.
            a = np.vstack(ws).astype(np.int64).view(np.uint64)
            h = a[:, 0] | (a[:, 1] << np.uint64(32))
            votes = ((h[:, None] >> bitpos) & 1).astype(np.int64) * 2 - 1
            fpbits = votes.sum(axis=0) > 0
            fp = int((fpbits.astype(np.uint64) << bitpos).sum(dtype=np.uint64))
            # two's-complement wrap: bit 63 lands in the sign bit, same
            # packing as Spark's shiftleft(1, 63) would produce
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(out, dtype="int64")

    # Persisted: both sides of the chunk self-join consume this, and
    # without it the tokenize + hash aggregation runs twice.
    sigs = track_persist(
        tok.groupBy("doc_id")
        .agg(F.collect_list(F.array("w0", "w1")).alias("ws"))
        .select("doc_id", simhash_of("ws").alias("simhash")),
        eager=True,  # chunk self-join sides race on the cold cache (r13)
    )
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(N_SIMHASH_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.val")
    x, y = chunks.alias("x"), chunks.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_dot_product(a.emb, b.emb), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb) >= 0.4
    """,
    section=SECTION,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4; fixtures are unit-norm
    so cosine ≡ dot). Brute-force O(n²) — the oracle/ground-truth path;
    dedup_embedding_cosine_lsh is the scale path over the same
    _vec_pairs scorer, fed bucket candidates."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    return _vec_pairs(spark, e, 0.4)


def _vec_pairs(
    spark: SparkSession, e: DataFrame, threshold: float, candidates=None
) -> DataFrame:
    """(vec_a, vec_b, cosine) embedding pairs whose UNROUNDED dot is
    ≥ threshold, cosine = ratio(dot) — the one pair scorer behind
    dedup_embedding_cosine and dedup_embedding_cosine_lsh (inputs are
    unit-norm, so cosine ≡ dot). ``e`` carries (vec_id, emb).

    No ``candidates``: every vec_a < vec_b pair, as a broadcast nested
    loop over a probe side repartitioned to the core count (the
    fixture is one file, so the O(n²) scoring would otherwise run as
    one task). With ``candidates`` (vec_a, vec_b): only those pairs,
    each side's embedding joined back by plain shuffle joins on vec_a
    and vec_b, so the corpus is never broadcast and each pair is
    scored once."""
    if candidates is None:
        a = e.repartition(spark.sparkContext.defaultParallelism).alias("a")
        pairs = a.join(
            F.broadcast(e).alias("b"), F.col("a.vec_id") < F.col("b.vec_id")
        ).select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.emb").alias("emb_a"),
            F.col("b.emb").alias("emb_b"),
        )
    else:
        ea = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
        eb = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
        pairs = candidates.join(ea, "vec_a").join(eb, "vec_b")
    return (
        pairs.select("vec_a", "vec_b", dot(F.col("emb_a"), F.col("emb_b")).alias("d"))
        .filter(F.col("d") >= threshold)
        .select("vec_a", "vec_b", ratio(F.col("d")).alias("cosine"))
    )


# Pair-dedup LSH blocking. Tuned for the fixture's ISOTROPIC unit
# vectors, where "dups" sit at cos 0.4-0.51 (θ≈60-66°, per-plane sign
# agreement p = 1-θ/π ≈ 0.63): 3-bit tables admit a true pair with
# p³≈0.25, so 16 independent tables give 1-(1-0.25)^16 ≈ 0.99 recall
# (measured: 0.97-1.0 at both fixture scales; 12 tables measured 0.93
# at sf0.01 — under the 0.95 pin, hence 16). This threshold is near
# LSH's theoretical floor — on a real near-dup corpus (cos ≥ 0.9,
# p ≥ 0.90) the SAME structure admits true pairs at p³≈0.73/table while
# random pairs collide at ~2^-3, i.e. sharp pruning; parameters are
# corpus-tuned constants, the plan shape is fixed.
PAIR_PLANES = 3  # bits per blocking table (fixture/oracle pin only)
PAIR_TABLES = 16  # independent tables (fixture/oracle pin only)

# Near-dup regime the adaptive default is tuned for: a cos≈0.96 pair's
# per-hyperplane bit-agreement probability, q = 1 − acos(0.96)/π.
_NEAR_DUP_BIT_AGREEMENT = 0.91
_TARGET_RECALL = 0.95


def _adaptive_pair_config(n: int) -> tuple[int, int]:
    """Scale-safe blocking constants from a cheap corpus count
    (VERDICT r10 what's-wrong #1: the fixture-floor 16×3 default is
    MEASURED quadratic on diffuse corpora — SCALING.md r10). The rule
    SCALING.md derives, applied mechanically:

    - planes p = ceil(log2 n), clamped to [6, 24]: a random (θ≈90°)
      pair collides in one table with probability ≈ 2^-p ≈ 1/n, so
      expected random candidates per table stay O(n) — never O(n²).
    - tables T = ceil(ln(1/(1−R)) / q^p), clamped to [4, 64]: enough
      independent tables that a true near-dup pair (per-bit agreement
      q ≈ 0.91 at cos 0.96) is admitted by at least one with
      probability ≥ R = 0.95; union admission T·2^-p stays ≪ 1 per
      random pair.

    At the measured 20k-vector scale this yields p=15, T=13 — the
    same flat-α regime as the hand-tuned 8×12 arm, analytic recall
    1−(1−q¹⁵)^13 ≈ 0.97. Beyond p=24 (n ≳ 16M) the clamp engages and
    the docstring's standing advice applies: route through IVF
    (sim_ann_ivf) instead of pair enumeration."""
    import math

    p = min(24, max(6, math.ceil(math.log2(max(n, 2)))))
    per_table = _NEAR_DUP_BIT_AGREEMENT**p
    t = math.ceil(math.log(1.0 / (1.0 - _TARGET_RECALL)) / per_table)
    return min(64, max(4, t)), p

# Engine-neutral LSH hyperplanes (r8, VERDICT r7 item #4): integer
# weights in [-2048, 2047] derived from md5 of "<tag>:<table>:<plane>:
# <dim>", applied to the 6-dp scaled-integer embedding (x6, the same
# representation embed_covariance_pairs proved exact). Every signature
# bit is then sign(Σ w·x6) over EXACT integers (|product| ≤ 2^11·10^6,
# 64-term sum < 2^42 — exact in int64 AND in float64 in any summation
# order), so Spark's Arrow matmul and DuckDB's list_dot_product over
# the same literals produce bit-identical buckets: the candidate set
# becomes a pure function of the data and the oracle can recompute
# candidates + exact rescore instead of settling for rows-only.


def _int_planes(tag: str, n_tables: int, n_planes: int, dims: int = 64):
    """md5-derived integer hyperplanes, shape (n_tables, n_planes,
    dims), values in [-2048, 2047] (first 3 md5 hex digits − 2048)."""
    import hashlib

    import numpy as np

    w = np.empty((n_tables, n_planes, dims), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d_ in range(dims):
                w[t, p, d_] = (
                    int(
                        hashlib.md5(
                            f"{tag}:{t}:{p}:{d_}".encode()
                        ).hexdigest()[:3],
                        16,
                    )
                    - 2048
                )
    return w


def _x6_col(col: str = "embedding"):
    """Embedding as exact 6-dp scaled integers (array<bigint>) — the
    decimal-round → ×1e6 → bigint discipline shared with
    embed_covariance_pairs, identical in DuckDB as
    CAST(CAST(ROUND(CAST(x AS DOUBLE),6) AS DECIMAL(18,6))*1000000
    AS BIGINT)."""
    return F.transform(
        col,
        lambda v: (
            F.round(v.cast("double"), 6).cast("decimal(18,6)")
            * F.lit(1000000)
        ).cast("bigint"),
    )


_X6_SQL = (
    "list_transform(embedding, x -> CAST(CAST(CAST("
    "ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000 "
    "AS BIGINT) AS DOUBLE))"
)


def _lsh_sig_sql_exprs(planes) -> list[str]:
    """One DuckDB expression per LSH table computing the packed
    sign-signature of column ``x6`` against the integer plane
    literals — the exact relational twin of _signature_udf."""
    n_tables, n_planes, _dims = planes.shape
    exprs = []
    for t in range(n_tables):
        terms = []
        for p in range(n_planes):
            wlist = ", ".join(f"{int(v)}.0" for v in planes[t, p])
            terms.append(
                f"(CASE WHEN list_dot_product(x6, [{wlist}]) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        exprs.append(" + ".join(terms))
    return exprs


def _signature_udf(planes_3d):
    """Arrow-batched LSH signature kernel over the x6 integer
    embedding: one numpy matmul per batch computes every table's
    sign-signature at once, returned as array<int> (one int per
    table). All-integer → exact → engine-reproducible.

    Deliberately a Pandas UDF, not unrolled JVM expressions: T×P plane
    dots as Catalyst literals make a multi-thousand-leaf expression
    tree whose ANALYSIS alone measured 2-3s per query (the execution
    is trivial); the matmul form is a constant-size plan and a
    (batch × 64) @ (64 × T·P) matmul — the standard vectorized
    shape for embedding kernels, map-only, so it scales unchanged.
    """
    import numpy as np

    n_tables, n_planes, dims = planes_3d.shape
    planes = planes_3d.reshape(n_tables * n_planes, dims)
    weights = np.array([1 << p for p in range(n_planes)])

    @F.pandas_udf("array<int>")
    def sigs(x6: pd.Series) -> pd.Series:
        if x6.empty:
            return pd.Series([], dtype=object)
        m = np.vstack(x6.to_numpy()).astype(np.int64)  # (batch, dims)
        bits = (m @ planes.T > 0).reshape(len(m), n_tables, n_planes)
        return pd.Series((bits @ weights).astype("int32").tolist())

    return sigs


def _pair_lsh_oracle_sql() -> str:
    """DuckDB restatement of the hyperplane-LSH pair-dedup pipeline:
    same integer planes (literal weights), same packed signatures,
    same bucket join and exact-dot verify as the Spark side."""
    sig_exprs = ",\n                ".join(
        f"({ex}) AS s{t}"
        for t, ex in enumerate(
            _lsh_sig_sql_exprs(_int_planes("pairlsh", PAIR_TABLES, PAIR_PLANES))
        )
    )
    sig_list = ", ".join(f"s{t}" for t in range(PAIR_TABLES))
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                   {_X6_SQL} AS x6
            FROM embeddings
        ), sigs AS (
            SELECT vec_id, emb,
                {sig_exprs}
            FROM e
        ), b AS (
            SELECT vec_id,
                   generate_subscripts([{sig_list}], 1) AS tbl,
                   unnest([{sig_list}]) AS sig
            FROM sigs
        ), cand AS (
            SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
            FROM b x JOIN b y
              ON x.tbl = y.tbl AND x.sig = y.sig AND x.vec_id < y.vec_id
        )
        SELECT c.vec_a, c.vec_b,
               ROUND(list_dot_product(ea.emb, eb.emb), 6) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b
        WHERE list_dot_product(ea.emb, eb.emb) >= 0.4
    """


@register(
    "dedup_embedding_cosine_lsh",
    oracle=_pair_lsh_oracle_sql(),
    section=SECTION,
)
def _dedup_embedding_cosine_lsh_pinned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry face of dedup_embedding_cosine_lsh: passes the fixture
    constants EXPLICITLY so the baked oracle SQL (whose plane literals
    are generated from the same 16×3) and the driver hash stay
    bit-stable. The public callable's DEFAULT is the adaptive,
    scale-safe configuration — only this contract pin uses 16×3
    (VERDICT r10 task #2)."""
    return dedup_embedding_cosine_lsh(
        spark, sf_dir, tables=PAIR_TABLES, planes=PAIR_PLANES
    )


def dedup_embedding_cosine_lsh(
    spark: SparkSession,
    sf_dir: str,
    tables: int | None = None,
    planes: int | None = None,
) -> DataFrame:
    """Scale path for embedding pair-dedup: hyperplane-LSH blocking +
    in-bucket exact verify. FULLY hash-checked against DuckDB since
    r8: the md5-derived INTEGER planes over the exact x6 embedding
    make every signature bit engine-reproducible, so the oracle
    recomputes the candidate set and the exact rescore (tests
    additionally pin recall ≥95% vs the exact dedup_embedding_cosine
    twin — same pattern as MinHash vs Jaccard).

    ``tables``/``planes`` override the blocking constants; the DEFAULT
    (both None) is now ADAPTIVE — _adaptive_pair_config derives
    (tables, planes) from a cheap corpus count so the admission
    probability tracks 1/n and a user calling the op with no config
    can never hit the measured-quadratic fixture floor (VERDICT r10
    what's-wrong #1; the registry face alone pins 16×3 for oracle
    stability). r10's tools/scalebench.py MEASURED the failure the
    old default invited: on a corpus with diffuse cross-pair angles
    (θ≈90°), 3-bit tables admit ~88% of all pairs as candidates —
    wall time went 4.7s→27s from 2k→6k vectors (fitted α = 1.6) and
    did not complete at 20k (>25 min, GC-bound). High-selectivity
    configurations on the same corpus (hand-tuned 8×12, and now the
    adaptive default) are flat across 10× at ≥95% recall for cos-0.96
    true pairs. The recall target is the near-dup regime the op
    exists for; corpora whose "dups" sit near the 0.4 threshold need
    explicit low-selectivity constants (the fixture pin is exactly
    that).

    dedup_embedding_cosine broadcasts the whole table for O(n²)
    scoring — correct as ground truth, a scale-killer at 100 TB
    (VERDICT r2 #5). Here nothing is broadcast and nothing is n²:
      sign-signature per table (map-only) -> explode to (table, sig)
      bucket rows -> SHUFFLE self-join on the bucket key -> distinct
      candidate id-pairs -> join embeddings back -> exact dot on
      candidates only.
    Every stage is a shuffle on bounded keys; candidate volume is
    Σ_buckets n_b², linear in true-dup density on clustered corpora.
    """
    # Spread the one-row-group fixture scan across cores before the
    # Arrow signature matmul (r13, guide §2.5): the sig UDF ran as a
    # single 1.3 s task on the unsplittable scan partition. At scale
    # the scan is multi-file and this is a cheap rebalance.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            _x6_col().alias("x6"),
        )
    )
    if tables is None or planes is None:
        # Cheap driver-side corpus count (parquet metadata scan) → the
        # selectivity the SCALING.md rule demands at this n.
        n = load_table(spark, sf_dir, "embeddings").count()
        a_tables, a_planes = _adaptive_pair_config(n)
        tables = tables if tables is not None else a_tables
        planes = planes if planes is not None else a_planes
    # Bucket rows carry only (vec_id, table, sig) — embeddings are NOT
    # shipped through the pair join; they rejoin after the distinct, so
    # each surviving pair is scored exactly once.
    sig_udf = _signature_udf(_int_planes("pairlsh", tables, planes))
    # Persisted: both sides of the bucket self-join read this relation —
    # without the persist the Arrow signature matmul runs twice.
    buckets = track_persist(
        e.select("vec_id", F.posexplode(sig_udf("x6")).alias("table", "sig")),
        eager=True,  # self-join sides race on the cold cache (r13)
    )
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
        .distinct()
        # Explicit-count repartition (r13, guide §2.5): AQE coalesces
        # the distinct's output by BYTES (~1-2 MB of bare id pairs →
        # ~10 partitions), but the next stage runs the exact dot
        # product per pair — compute-bound, not byte-bound; profiled
        # as the op's dominant job at 1/3 of the cores. Shuffling the
        # 16-byte pairs round-robin is noise next to the rescore.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return _vec_pairs(spark, e, 0.4, candidates=cand)


# ------------------------------------------------------- similarity search


def _probe_topk(
    corpus: DataFrame, probe_ids: list[int], k: int, candidate=None
) -> DataFrame:
    """The embedding probe sweep behind every exact-rescore top-k: the
    probe rows (``vec_id`` in ``probe_ids``) broadcast against one
    corpus scan, each (corpus, probe) pair with distinct ids scored
    ``cosine = ratio(dot(emb, probe emb))`` on the JVM, and the top
    ``k`` per probe kept by (rounded cosine desc, vec_id) — ranking on
    the 6-dp score makes the cut stable under last-ulp float
    divergence across engines.

    ``corpus`` carries (vec_id, emb) plus any columns the caller keeps
    or tests; ``candidate`` is an optional predicate over the corpus
    side (alias "c") and the probe side (alias "p"), e.g. an LSH
    signature match or an IVF cell test, evaluated inside the join.
    The result is (probe_id, every corpus column, cosine); columns the
    caller does not select are pruned before the top-k. The top-k form
    follows the probe list: one probe is an orderBy + limit, which
    plans as TakeOrderedAndProject (per-partition heaps, no global
    sort); a batch is a row_number window partitioned by probe, one
    corpus pass however many probes."""
    probe = F.broadcast(corpus.filter(F.col("vec_id").isin(probe_ids)))
    cond = F.col("c.vec_id") != F.col("p.vec_id")
    if candidate is not None:
        cond = cond & candidate
    scored = (
        corpus.alias("c")
        .join(probe.alias("p"), cond)
        .select(
            F.col("p.vec_id").alias("probe_id"),
            "c.*",
            ratio(dot(F.col("c.emb"), F.col("p.emb"))).alias("cosine"),
        )
    )
    order = (F.col("cosine").desc(), "vec_id")
    if len(probe_ids) == 1:
        return scored.orderBy(*order).limit(k)
    w = Window.partitionBy("probe_id").orderBy(*order)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register(
    "sim_topk_cosine",
    oracle="""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings),
        probe AS (SELECT emb FROM e WHERE vec_id = 0)
        SELECT e.vec_id, ROUND(list_dot_product(e.emb, probe.emb), 6) AS cosine
        FROM e, probe
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id
        LIMIT 10
    """,
    section=SECTION,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 of probe vec_id=0: the _probe_topk
    sweep with no candidate predicate (broadcast 1-row probe, JVM-side
    dot kernel, TakeOrderedAndProject top-k). The baseline ANN every
    index variant is measured against."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    return _probe_topk(e, [0], 10).select("vec_id", "cosine")


@register(
    "sim_knn_join_label",
    oracle="""
        WITH dims AS (
            SELECT label, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ), cent AS (
            SELECT label AS c_label, list(avg_val ORDER BY pos) AS centroid,
                   sqrt(list_dot_product(list(avg_val ORDER BY pos),
                                         list(avg_val ORDER BY pos))) AS cnorm
            FROM (SELECT label, pos, AVG(val) AS avg_val FROM dims GROUP BY 1, 2)
            GROUP BY label
        ), e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), scored AS (
            SELECT vec_id, label, c_label,
                   ROUND(list_dot_product(emb, centroid) / cnorm, 6) AS sim
            FROM e CROSS JOIN cent
        )
        SELECT vec_id, label, c_label AS nearest_label, sim AS centroid_sim
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, c_label) = 1
    """,
    section=SECTION,
)
def sim_knn_join_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids, then each vector's nearest centroid —
    a knn-join against K=10 cluster representatives, i.e. one IVF
    probe step. Centroids come from posexplode + (label, pos) avg —
    a 640-group aggregation, then broadcast to the scoring join.
    Ranking uses ROUNDED similarity (ties then broken by label) so the
    argmax is stable under last-ulp float divergence across engines."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    ).select("label", F.col("pos"), F.col("col").alias("val"))
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.avg("val").alias("avg_val"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "avg_val"))),
                lambda s: s.avg_val,
            ).alias("centroid")
        )
        .withColumn("cnorm", l2_norm(F.col("centroid")))
    )
    vecs = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    scored = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        ratio(dot(F.col("emb"), F.col("centroid")) / F.col("cnorm")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "c_label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("c_label").alias("nearest_label"),
            F.col("sim").alias("centroid_sim"),
        )
    )


@register(
    "mm_embedding_quantize",
    oracle="""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings),
        s AS (SELECT vec_id, emb,
                     GREATEST(list_max(list_transform(emb, x -> abs(x))) / 127.0,
                              1e-12) AS scale
              FROM e),
        q AS (SELECT vec_id, emb, scale,
                     list_transform(emb, x -> CAST(ROUND(x / scale) AS INTEGER))
                         AS qv
              FROM s)
        SELECT vec_id,
               CAST(len(emb) AS INTEGER) AS n_dims,
               scale,
               CAST(list_aggregate(list_transform(qv, v -> abs(v)), 'sum')
                    AS BIGINT) AS q_l1,
               CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat,
               ROUND(sqrt(list_aggregate(
                   list_transform(list_zip(emb, qv),
                                  p -> (p[1] - p[2] * scale)
                                       * (p[1] - p[2] * scale)), 'sum')), 6)
                   AS recon_err
        FROM q
    """,
    section=SECTION,
)
def mm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the 4× storage
    compression step a 100 TB embedding store applies at ingest:
    per-vector scale = max|x|/127, quantized components in [-127,127],
    plus the quality metrics a pipeline monitors (saturation count,
    L2 reconstruction error). Pure JVM higher-order functions — one
    map-only pass, no UDF, no shuffle; at scale this runs inside the
    ingest scan and the int8 column writes 4× smaller parquet."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    scale = F.greatest(
        F.array_max(F.transform("emb", F.abs)) / F.lit(127.0), F.lit(1e-12)
    )
    withq = e.select(
        "vec_id",
        "emb",
        scale.alias("scale"),
    ).select(
        "vec_id",
        "emb",
        "scale",
        F.transform(
            "emb", lambda x: F.round(x / F.col("scale")).cast("int")
        ).alias("qv"),
    )
    sqerr = F.aggregate(
        F.zip_with(
            "emb",
            "qv",
            lambda x, v: (x - v * F.col("scale")) * (x - v * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # scale is emitted UNROUNDED: it's a sequential deterministic
    # expression (max|x|/127 — no partitioned aggregation), bit-
    # identical across engines, and its values (exact float32 maxima
    # scaled by /127) CAN sit exactly on ROUND-6 half boundaries,
    # where engines round differently (SURVEY hard-won fact #1;
    # diffcheck caught exactly that here in r3). recon_err is ROUNDED
    # to 6 digits on both sides (VERDICT r4 #5): it's a sqrt of a
    # squared-error sum — an irrational-valued statistic that never
    # lands on a decimal half boundary — so rounding removes the
    # fragile cross-engine assumption that both engines fold the
    # element-wise sum left-to-right (true today for Spark F.aggregate
    # and DuckDB list_aggregate('sum'), but an engine upgrade to
    # pairwise/Kahan summation would have broken the unrounded hash).
    return withq.select(
        "vec_id",
        F.size("emb").alias("n_dims"),
        F.col("scale"),
        F.aggregate(
            F.transform("qv", F.abs),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("q_l1"),
        F.size(F.filter("qv", lambda v: F.abs(v) == 127)).cast("bigint").alias(
            "n_sat"
        ),
        ratio(F.sqrt(sqerr)).alias("recon_err"),
    )


@register(
    "sim_batch_topk",
    oracle="""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, emb AS probe_emb
                   FROM e WHERE vec_id < 5)
        SELECT probe_id, e.vec_id,
               ROUND(list_dot_product(e.emb, probe_emb), 6) AS cosine
        FROM e CROSS JOIN probes
        WHERE e.vec_id <> probe_id
        QUALIFY row_number() OVER (
            PARTITION BY probe_id
            ORDER BY ROUND(list_dot_product(e.emb, probe_emb), 6) DESC,
                     e.vec_id) <= 5
    """,
    section=SECTION,
)
def sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched similarity serving: top-5 neighbors for EACH of a batch
    of probes (vec_id < 5) in one pass — the realistic query shape
    (requests arrive in batches, not one probe at a time).

    Plan: the _probe_topk sweep over a 5-id probe list — broadcast
    the probe batch, one corpus scan scores all probes (JVM dot
    kernel), per-probe ranking via a window partitioned by probe, so
    ranking parallelizes with the batch. At 100 TB this is still one
    scan per batch regardless of batch size — the win over per-probe
    loops."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    return _probe_topk(e, list(range(5)), 5).select("probe_id", "vec_id", "cosine")


# Tuned for isotropic (unclustered) unit vectors, where true neighbors
# sit at cos ~0.4-0.5 (θ≈60°): per-plane agreement p = 1 - θ/π ≈ 0.65,
# so 4-bit signatures × 16 tables give ~0.94 expected recall@10
# (measured 7-9/10; was 5/10 at 8 tables — doubled once the matmul
# signature kernel made table count ~free). Clustered real-world
# embeddings (cos ≥ 0.9 dups) would use longer signatures for much
# sharper pruning at a lower candidate rate.
N_PLANES = 4  # hyperplanes per LSH table
N_TABLES = 16  # independent tables (union of candidates)


def _ann_lsh_oracle_sql() -> str:
    """DuckDB restatement of the ANN hyperplane-LSH query: same
    integer planes, same packed signatures, probe bucket match on any
    of the N_TABLES tables, exact rescore, top-10."""
    sig_exprs = ",\n                ".join(
        f"({ex}) AS s{t}"
        for t, ex in enumerate(
            _lsh_sig_sql_exprs(_int_planes("annlsh", N_TABLES, N_PLANES))
        )
    )
    sig_list = ", ".join(f"s{t}" for t in range(N_TABLES))
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                   {_X6_SQL} AS x6
            FROM embeddings
        ), sigs AS (
            SELECT vec_id, emb,
                {sig_exprs}
            FROM e
        ), b AS (
            SELECT vec_id,
                   generate_subscripts([{sig_list}], 1) AS tbl,
                   unnest([{sig_list}]) AS sig
            FROM sigs
        ), cand AS (
            SELECT DISTINCT c.vec_id
            FROM b c JOIN b p
              ON p.vec_id = 0 AND c.tbl = p.tbl AND c.sig = p.sig
            WHERE c.vec_id <> 0
        )
        SELECT e.vec_id,
               ROUND(list_dot_product(e.emb, probe.emb), 6) AS cosine
        FROM cand JOIN e ON e.vec_id = cand.vec_id,
             (SELECT emb FROM e WHERE vec_id = 0) probe
        ORDER BY cosine DESC, e.vec_id
        LIMIT 10
    """


@register("sim_ann_lsh", oracle=_ann_lsh_oracle_sql(), section=SECTION)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for probe vec_id=0 via hyperplane LSH:
    sign-signature per table -> the _probe_topk sweep with "some
    table's signature matches the probe's" as its candidate predicate
    -> exact dot on that candidate union. FULLY hash-checked against
    DuckDB since r8: md5-derived integer planes over the exact x6
    embedding make the candidate set a pure function of the data, so
    the oracle recomputes candidates + exact rescore (tests
    additionally assert recall vs sim_topk_cosine).

    At 100 TB: signatures are one linear pass; each query touches only
    its buckets. The candidate set replaces the full O(n) scan of the
    brute-force path with ~n/2^planes per table.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        _x6_col().alias("x6"),
    )
    # All 16 table signatures in one Arrow matmul (array<int> column) —
    # the unrolled per-table literal expressions this replaces cost
    # ~2s of Catalyst analysis alone (see _signature_udf).
    sig_udf = _signature_udf(_int_planes("annlsh", N_TABLES, N_PLANES))
    sigs = e.select("vec_id", "emb", sig_udf("x6").alias("sigs"))
    bucket_match = F.exists(
        F.zip_with("c.sigs", "p.sigs", lambda a, b: a == b), lambda x: x
    )
    return _probe_topk(sigs, [0], 10, bucket_match).select("vec_id", "cosine")


N_CELLS = 16  # IVF coarse-quantizer size
N_PROBE = 6  # cells scanned per query
KMEANS_ITERS = 3  # Lloyd refinement passes over the corpus


def _centroid_dots(cents):
    """Array<struct(d,k)> of the row's x6 dot with every scaled-int
    centroid — the map-only kernel shared by training assignment and
    the query path (argmax = array_max over the structs; struct
    comparison ties on equal d resolve to the LARGEST k, mirrored by
    the oracle's ORDER BY d DESC, k DESC).

    All-integer since r8: centroids are 6-dp scaled ints (c6) and the
    input is the x6 embedding, so every dot is an exact integer
    ≤ 64·10¹² < 2⁵³ — bit-identical in numpy int64, float64, and
    DuckDB's list_dot_product. Dots come from one Arrow matmul per
    batch (same rationale as _signature_udf: 16×64 centroid literals
    cost ~1s of Catalyst analysis per plan); the (d, k) structs are
    then built JVM-side by a constant-size indexed transform."""
    import numpy as np

    c = np.asarray(cents, dtype=np.int64)

    @F.pandas_udf("array<double>")
    def cdots(x6: pd.Series) -> pd.Series:
        if x6.empty:
            return pd.Series([], dtype=object)
        m = np.vstack(x6.to_numpy()).astype(np.int64)
        return pd.Series((m @ c.T).astype(np.float64).tolist())

    return F.transform(
        cdots(F.col("x6")),
        lambda d, k: F.struct(d.alias("d"), k.alias("k")),
    )


# Trained coarse quantizers, keyed by corpus dir. IVF centroids are an
# index-build-time artifact (FAISS trains once at ingest, not per query);
# training is deterministic per corpus, so memoizing is semantics-free.
_IVF_CACHE: dict = {}


def _c6_normalize(vals: list[int]) -> list[int] | None:
    """Unit-normalize an integer vector onto the 6-dp scaled-int grid:
    floor(v · 10⁶ / ‖vals‖). Exact-input IEEE sqrt + division + floor
    — the identical expression DuckDB evaluates as
    FLOOR(v * 1000000 / sqrt(list_dot_product(m, m))), so both engines
    land on the same grid point (floor, NOT round: round-half rules
    differ across engines, floor of a shared double never does).
    Returns None for the zero vector (caller keeps the previous
    centroid, matching the oracle's CASE)."""
    import math

    s = math.sqrt(sum(v * v for v in vals))
    if s == 0.0:
        return None
    return [math.floor(v * 1000000 / s) for v in vals]


def _ivf_centroids(e6, cache_key=None) -> list[list[int]]:
    """Spherical-k-means coarse centroids learned from the corpus
    (replaces r1's fixed random planes, whose recall@10 was 5-6/10),
    ENGINE-REPRODUCIBLE since r8: every quantity in training is an
    exact integer or the floor of an IEEE double of exact-integer
    operands, so DuckDB re-derives bit-identical centroids and the
    oracle can recompute cell assignments — the certificate that
    upgraded sim_ann_ivf from rows-only to a full hash-check.

    Forgy init from the first N_CELLS vectors by vec_id
    (deterministic), 6-dp-grid-normalized, then KMEANS_ITERS Lloyd
    passes, each ONE distributed job: assign via the same argmax
    projection the query uses (exact int dots), update via
    floor(sum/count) per (cell, dim) — sums of x6 ints are exact, the
    division is one IEEE op, floor is unambiguous. The only
    driver-side transfer per pass is the N_CELLS x 64 centroid matrix
    itself (a 1024-row aggregate via .take) — metadata scale, same as
    FAISS coarse-quantizer training. At 100 TB: train on a bounded
    sample instead of the full corpus, then write the table
    partitioned BY cell so queries prune at the scan; the query-time
    kernel is unchanged.

    ``e6`` carries (vec_id, x6) with x6 the scaled-int embedding."""
    import math

    if cache_key is not None and cache_key in _IVF_CACHE:
        return _IVF_CACHE[cache_key]

    seed = e6.orderBy("vec_id").limit(N_CELLS).select("x6").take(N_CELLS)
    cents = []
    for r in seed:
        vals = [int(x) for x in r["x6"]]
        cents.append(_c6_normalize(vals) or vals)
    e6 = e6.persist()  # scanned KMEANS_ITERS times here + twice by the query
    try:
        for _ in range(KMEANS_ITERS):
            sums = (
                e6.select("x6", _centroid_dots(cents).alias("cdots"))
                .select(
                    F.array_max("cdots")["k"].alias("cell"),
                    F.posexplode("x6").alias("dim", "x"),
                )
                .groupBy("cell", "dim")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                .take(N_CELLS * 64)
            )
            per_cell: dict[int, dict[int, int]] = {}
            for r in sums:
                per_cell.setdefault(r["cell"], {})[r["dim"]] = math.floor(
                    r["s"] / r["n"]
                )
            nxt = [list(c) for c in cents]  # empty cells keep theirs
            for k, dims_ in per_cell.items():
                m6 = [dims_[d] for d in range(len(nxt[k]))]
                normed = _c6_normalize(m6)
                if normed is not None:  # zero mean → keep previous
                    nxt[k] = normed
            cents = nxt
    finally:
        e6.unpersist()
    if cache_key is not None:
        _IVF_CACHE[cache_key] = cents
    return cents


def _ivf_oracle_sql() -> str:
    """DuckDB restatement of the ENTIRE IVF pipeline — Forgy init,
    KMEANS_ITERS Lloyd passes, final assignment, probe-cell selection,
    exact rescore. Possible only because training arithmetic is
    exact-integer + floor (see _ivf_centroids): the unrolled iteration
    CTEs land on bit-identical centroids, so cells — and therefore the
    candidate set — match Spark's."""
    its = ""
    prev = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        its += f""", a{i} AS (
            SELECT vec_id, x6d, k, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d DESC, k DESC) AS rn
            FROM (SELECT e.vec_id, e.x6d, c.k,
                         list_dot_product(e.x6d, c.c6) AS d
                  FROM e CROSS JOIN {prev} c)
        ), m{i} AS (
            SELECT cell, dim, FLOOR(SUM(x) / COUNT(*)) AS m6
            FROM (SELECT k AS cell, generate_subscripts(x6d, 1) - 1 AS dim,
                         unnest(x6d) AS x
                  FROM a{i} WHERE rn = 1)
            GROUP BY cell, dim
        ), ml{i} AS (
            SELECT cell AS k, list(m6 ORDER BY dim) AS m6s
            FROM m{i} GROUP BY cell
        ), c{i} AS (
            SELECT p.k,
                   CASE WHEN m.k IS NULL
                             OR list_dot_product(m.m6s, m.m6s) = 0
                        THEN p.c6
                        ELSE list_transform(m.m6s, v -> FLOOR(v * 1000000
                             / sqrt(list_dot_product(m.m6s, m.m6s))))
                   END AS c6
            FROM {prev} p LEFT JOIN ml{i} m ON m.k = p.k
        )"""
        prev = f"c{i}"
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                   {_X6_SQL} AS x6d
            FROM embeddings
        ), init AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, x6d
            FROM e ORDER BY vec_id LIMIT {N_CELLS}
        ), c0 AS (
            SELECT k,
                   CASE WHEN list_dot_product(x6d, x6d) = 0 THEN x6d
                        ELSE list_transform(x6d, v -> FLOOR(v * 1000000
                             / sqrt(list_dot_product(x6d, x6d))))
                   END AS c6
            FROM init
        ){its}, fa AS (
            SELECT vec_id, k, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d DESC, k DESC) AS rn
            FROM (SELECT e.vec_id, c.k,
                         list_dot_product(e.x6d, c.c6) AS d
                  FROM e CROSS JOIN {prev} c)
        ), cells AS (
            SELECT vec_id, k AS cell FROM fa WHERE rn = 1
        ), pcells AS (
            SELECT k AS cell FROM fa WHERE vec_id = 0 AND rn <= {N_PROBE}
        )
        SELECT e.vec_id,
               ROUND(list_dot_product(e.emb, probe.emb), 6) AS cosine
        FROM cells
        JOIN e ON e.vec_id = cells.vec_id
        JOIN pcells ON pcells.cell = cells.cell,
             (SELECT emb FROM e WHERE vec_id = 0) probe
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id
        LIMIT 10
    """


@register("sim_ann_ivf", oracle=_ivf_oracle_sql(), section=SECTION)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for probe vec_id=0 via an IVF coarse quantizer:
    k-means-learn 16 centroids from the corpus, assign every vector to
    its nearest centroid (its cell), scan only the probe's N_PROBE=6
    nearest cells (the candidate predicate of the _probe_topk sweep),
    exact dot on those candidates. FULLY hash-checked
    against DuckDB since r8: training runs on the exact-integer grid
    (see _ivf_centroids), so the oracle re-derives the same centroids,
    cells, and candidates, then exact-rescoes (tests additionally
    assert recall vs sim_topk_cosine).

    The cell assignment is a map-only projection — 16 unrolled
    centroid dots folded to an argmax via array_max over (dot, k)
    structs; no shuffle, no window. At 100 TB the corpus would be
    written bucketed/partitioned BY cell so a query prunes 10/16 of
    the data at the scan (here the prune is a post-scan filter, same
    selectivity). nprobe trades recall for scan fraction exactly like
    FAISS IVF-Flat."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        _x6_col().alias("x6"),
    )
    cents = _ivf_centroids(e.select("vec_id", "x6"), cache_key=sf_dir)
    cells = e.select(
        "vec_id", "emb", "x6", _centroid_dots(cents).alias("cdots")
    )
    # Each row carries its own cell and its N_PROBE nearest cells; the
    # corpus side reads only `cell`, the probe side only `probe_cells`,
    # and column pruning drops the other from each side.
    corpus = cells.select(
        "vec_id",
        "emb",
        F.array_max("cdots")["k"].alias("cell"),
        F.transform(
            F.slice(F.reverse(F.array_sort("cdots")), 1, N_PROBE),
            lambda s: s["k"],
        ).alias("probe_cells"),
    )
    in_probe_cells = F.array_contains("p.probe_cells", F.col("c.cell"))
    return _probe_topk(corpus, [0], 10, in_probe_cells).select("vec_id", "cosine")


# ------------------------------------------------------------ text analysis


@register(
    "text_token_stats",
    oracle=r"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT)
                   AS total_distinct,
               CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')))
                    AS BIGINT) AS total_bpe_ish,
               ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens
        FROM documents GROUP BY lang
    """,
    section=SECTION,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language: whitespace tokens, distinct tokens,
    and a BPE-ish regex count (word pieces + punctuation) — the token
    accounting a training-data pipeline runs first."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bpe = F.regexp_extract_all("text", F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.sum(F.size(F.array_distinct(toks))).alias("total_distinct"),
        F.sum(F.size(bpe)).alias("total_bpe_ish"),
        ratio(F.avg(F.size(toks))).alias("avg_tokens"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ), df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT lang, term,
               ROUND(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
        QUALIFY row_number() OVER (
            PARTITION BY lang
            ORDER BY tf * ln(n_docs * 1.0 / df) DESC, term) <= 5
    """,
    section=SECTION,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language: corpus term frequency × inverse
    document frequency, df joined broadcast (vocab is small relative to
    corpus — at 100 TB the df table is still only |vocab| rows)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; a count() action, not a collected dataset
    score = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("lang").orderBy(score.desc(), "term")
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", ratio(score).alias("tfidf"))
    )


# Ranked retrieval: fixed query workload (name, terms). Terms come
# from the fixture vocabulary. text_search_ranked scores it by tf·idf,
# text_search_bm25 by BM25, so the two scorers can be compared side by
# side.
_SEARCH_QUERIES: list[tuple[str, list[str]]] = [
    ("hash join", ["hash", "join"]),
    ("stream window", ["stream", "window"]),
    ("slow query", ["slow", "query"]),
]
_SEARCH_K = 10
# BM25 parameters (the Lucene/standard defaults).
_BM25_K1 = 1.2
_BM25_B = 0.75


class EmptyCorpus(ValueError):
    """Ranked retrieval over a corpus with no rows: N and avgdl are
    undefined, so there is nothing to score against."""


def ranked_top_k(
    docs: DataFrame,
    queries: list[list[str]],
    *,
    scorer: str,
    k: int,
    text_col: str,
    id_col: str | None,
) -> list[DataFrame]:
    """Ranked full-text retrieval over whitespace tokens of
    ``text_col``: for each query (a list of terms) the top-``k`` rows
    of ``docs`` with a positive ``score`` column appended, ordered by
    score desc and then by ``id_col`` (the text itself when no id is
    given, so score ties never resolve by partition order).

    ``scorer`` is ``"bm25"`` (k1=1.2, b=0.75, Robertson-Sparck-Jones
    idf ln((N-df+0.5)/(df+0.5)+1)) or ``"tfidf"`` (raw term count ×
    ln(N/max(df, 1)); the guard gives a term absent from the corpus a
    zero contribution instead of a division by df = 0).

    Scale shape: ONE bounded stats action (N, total length, and df per
    distinct term over all queries) folds into the plan as literals;
    per-doc term counts are map-only higher-order expressions (no token
    explode, no (doc, term) shuffle); each query's top-k plans as
    TakeOrderedAndProject (per-partition heap + k·partitions merge, no
    global sort). Raises EmptyCorpus when ``docs`` has no rows."""
    toks = F.split(text_col, " ")
    terms = sorted({t for q in queries for t in q})
    stats = docs.select(
        F.size(toks).alias("dl"),
        *[
            F.array_contains(toks, t).cast("int").alias(f"c_{i}")
            for i, t in enumerate(terms)
        ],
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum(f"c_{i}").alias(f"df_{i}") for i in range(len(terms))],
    ).first()  # driver-scalar: N, total length, |query vocab| dfs
    if not stats["n"]:
        raise EmptyCorpus("cannot rank an empty corpus")
    n = float(stats["n"])
    avgdl = float(stats["sum_dl"]) / stats["n"]
    doc_freq = {t: float(stats[f"df_{i}"]) for i, t in enumerate(terms)}
    dl = F.size(toks).cast("double")

    def term_score(t: str):
        # One-parameter lambda: a second (even defaulted) parameter
        # makes Spark pass the (element, index) form.
        tf = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")
        df_t = doc_freq[t]
        if scorer == "bm25":
            idf = F.log(F.lit((n - df_t + 0.5) / (df_t + 0.5) + 1.0))
            norm = tf + F.lit(_BM25_K1) * (
                F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (dl / F.lit(avgdl))
            )
            return idf * ((tf * F.lit(_BM25_K1 + 1.0)) / norm)
        return tf * F.log(F.lit(n) / F.lit(max(df_t, 1.0)))

    tiebreak = F.col(id_col or text_col)
    tops = []
    for q in queries:
        score = term_score(q[0])
        for t in q[1:]:
            score = score + term_score(t)
        tops.append(
            docs.withColumn("score", score)
            .filter(F.col("score") > 0)
            .orderBy(F.col("score").desc(), tiebreak)
            .limit(k)
        )
    return tops


def _ranked_workload(spark: SparkSession, sf_dir: str, scorer: str) -> DataFrame:
    """_SEARCH_QUERIES through ranked_top_k over the documents fixture,
    formatted as both ranked oracles pin it: (query, rank, doc_id,
    ROUND-6 score). The rank window runs over <= k rows per query."""
    tops = ranked_top_k(
        load_table(spark, sf_dir, "documents"),
        [qterms for _, qterms in _SEARCH_QUERIES],
        scorer=scorer,
        k=_SEARCH_K,
        text_col="text",
        id_col="doc_id",
    )
    hits = None
    for (qname, _), top in zip(_SEARCH_QUERIES, tops):
        part = top.select(
            F.lit(qname).alias("query"), "doc_id", F.col("score").alias("s")
        )
        hits = part if hits is None else hits.unionAll(part)
    w = Window.partitionBy("query").orderBy(F.col("s").desc(), "doc_id")
    return hits.select(
        "query",
        F.row_number().over(w).alias("rank"),
        "doc_id",
        ratio(F.col("s")).alias("score"),
    )


def _search_oracle() -> str:
    scored = []
    for qname, qterms in _SEARCH_QUERIES:
        terms_sql = " + ".join(
            f"len(list_filter(toks, t -> t = '{t}'))"
            f" * ln(CAST(n AS DOUBLE) / df_{t})"
            for t in qterms
        )
        scored.append(
            f"SELECT '{qname}' AS query, doc_id, {terms_sql} AS s"
            " FROM d CROSS JOIN stats"
        )
    all_terms = sorted({t for _, ts in _SEARCH_QUERIES for t in ts})
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{t}"
        for t in all_terms
    )
    union = " UNION ALL ".join(scored)
    return f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), stats AS (
            SELECT COUNT(*) AS n, {dfs} FROM d
        ), scored AS ({union})
        SELECT query,
               CAST(row_number() OVER (
                   PARTITION BY query ORDER BY s DESC, doc_id) AS INT)
                   AS rank,
               doc_id,
               ROUND(s, 6) AS score
        FROM scored
        WHERE s > 0
        QUALIFY row_number() OVER (
            PARTITION BY query ORDER BY s DESC, doc_id) <= {_SEARCH_K}
    """


@register("text_search_ranked", oracle=_search_oracle(), section=SECTION)
def text_search_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked document search — "find the best hits for X" (VERDICT r4
    missing #2): each query in the fixed workload retrieves its top-10
    documents by tf·idf (raw term count × ln(N/df)), ties broken by
    doc_id.

    Scale shape is ranked_top_k's: one bounded stats action, map-only
    term counts, a TakeOrderedAndProject per query (the plan test pins
    this), and the final rank is a window over ≤ k rows per query. At
    100 TB: one corpus scan per ranked batch, k rows out per query.
    idf stays in-plan (F.log on literal N/df) so both engines fold the
    same double expression; the score is ROUND-6 at the boundary
    only."""
    return _ranked_workload(spark, sf_dir, "tfidf")


@register(
    "text_lang_source_profile",
    oracle="""
        SELECT lang, source, COUNT(*) AS n_docs,
               ROUND(AVG(n_chars), 6) AS avg_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY lang, source
    """,
    section=SECTION,
)
def text_lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source corpus profile (provenance accounting)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        ratio(F.avg("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_unigram_surprisal",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), freq AS (
            SELECT token, COUNT(*) AS n FROM tok GROUP BY token
        ), tot AS (
            SELECT SUM(n) AS t FROM freq
        ), p AS (
            SELECT token, n * 1.0 / t AS p FROM freq, tot
        )
        SELECT doc_id, ROUND(-AVG(LN(p.p)), 6) AS surprisal
        FROM tok JOIN p USING (token)
        GROUP BY doc_id
    """,
    section=SECTION,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal (-avg ln p(token) under the
    corpus unigram distribution) — the perplexity-style quality signal
    a pretraining pipeline uses to drop low-information / boilerplate
    docs (constant-ish docs score LOW, rare-token docs HIGH).

    Plan: one groupBy builds the unigram table (vocab-sized), its
    probabilities via a single-partition window over that TINY frame
    (vocab-bounded, same posture as log_retention_prune's cutoff), then
    a BROADCAST join tokens ⋈ probs and a per-doc aggregate. At 100 TB
    the unigram table is still vocab-sized — the only large shuffle is
    the per-doc aggregate, carrying (doc_id, ln p) pairs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tok = track_persist(tok)  # feeds both the freq agg and the score join
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    p = freq.select(
        "token",
        (F.col("n") / F.sum("n").over(Window.partitionBy())).alias("p"),
    )
    return (
        tok.join(F.broadcast(p), "token")
        .groupBy("doc_id")
        .agg(ratio(-F.avg(F.log("p"))).alias("surprisal"))
    )


@register(
    "text_quality_filter",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_filter(string_split(text, ' '),
                                   t -> t IN ('the', 'a'))) AS n_stop,
                   len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) AS distinct_ratio
            FROM documents
        )
        SELECT doc_id, lang, n_tokens,
               ROUND(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
               ROUND(distinct_ratio, 6) AS distinct_ratio
        FROM scored
        WHERE n_tokens BETWEEN 20 AND 80
          AND n_stop * 1.0 / n_tokens < 0.15
          AND distinct_ratio > 0.3
    """,
    section=SECTION,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate: length band + stopword ratio + lexical
    diversity — the shape of a pretraining quality filter, as pure
    column expressions (no UDF, fully pushed into codegen)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    distinct_ratio = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tokens
    stop_ratio = n_stop * F.lit(1.0) / n_tokens
    return (
        d.select(
            "doc_id",
            "lang",
            n_tokens.cast("bigint").alias("n_tokens"),
            stop_ratio.alias("sr"),
            distinct_ratio.alias("dr"),
        )
        .filter(
            F.col("n_tokens").between(20, 80)
            & (F.col("sr") < 0.15)
            & (F.col("dr") > 0.3)
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            ratio(F.col("sr")).alias("stop_ratio"),
            ratio(F.col("dr")).alias("distinct_ratio"),
        )
    )


_STOPLISTS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "les"),
}


@register(
    "text_lang_id",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text,' '),
                       t -> t IN ('the','a','of')))  AS s_en,
                   len(list_filter(string_split(text,' '),
                       t -> t IN ('der','die','das'))) AS s_de,
                   len(list_filter(string_split(text,' '),
                       t -> t IN ('le','la','les')))  AS s_fr
            FROM documents
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS guessed_lang
        FROM scored
    """,
    section=SECTION,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stoplist-hit language ID (argmax of per-language marker counts,
    ties broken en > de > fr). The mechanism — per-language feature
    score + argmax, pure column expressions — is the real pipeline
    shape; real profiles would swap in char-n-gram tables."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    def stop_hits(stoplist):
        # factory keeps the lambda single-arg: F.filter treats a 2-arg
        # lambda as (element, index) and would pass the index column
        return F.size(F.filter(toks, lambda t: t.isin(*stoplist)))

    scores = {lang: stop_hits(sl) for lang, sl in _STOPLISTS.items()}
    guess = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en"
        )
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), guess.alias("guessed_lang")
    )


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint
        FROM documents
    """,
    section=SECTION,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words document fingerprint: md5 of the
    sorted distinct token string. Two docs with identical vocabularies
    collide — the cheap first-pass grouping key for near-dup mining."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.array_sort(_TOKENS()))
    return d.select("doc_id", F.md5(canon).alias("fingerprint"))


# --- r4 widening: pipeline ops a 100 TB training-data build runs that
# the r1-r3 inventory didn't yet cover: scoped (per-source) dedup,
# stopword scrubbing, benchmark decontamination, and embedding norm
# monitoring.


@register(
    "dedup_within_source",
    oracle="""
        SELECT source, sha256(text) AS content_sha,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY source, sha256(text)
    """,
    section=SECTION,
)
def dedup_within_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup SCOPED per source — the per-crawl/per-dump first
    pass a pipeline runs before global dedup (cheap, and keeps
    cross-source provenance questions separate). Keeper = min doc_id
    per (source, content hash); group sizes feed dup-rate monitoring.
    One partial-agg groupBy on a bounded composite key — scales as a
    single shuffle; at 100 TB source is also the natural partition
    column, making this shuffle-local after a partitioned write."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source", F.sha2(F.col("text").cast("binary"), 256).alias("content_sha"),
            "doc_id",
        )
        .groupBy("source", "content_sha")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "text_stopword_scrub",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), c AS (
            SELECT doc_id, toks,
                   list_filter(toks, x -> x NOT IN ('a', 'the')) AS clean
            FROM t
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT)  AS n_tokens,
               CAST(len(toks) - len(clean) AS BIGINT) AS n_removed,
               sha256(array_to_string(clean, ' ')) AS clean_sha,
               CAST(length(array_to_string(clean, ' ')) AS BIGINT) AS clean_chars
        FROM c
    """,
    section=SECTION,
)
def text_stopword_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword scrubbing as a content TRANSFORM (not just the ratio
    scoring in text_quality_filter): filter the token array against a
    lexicon, re-join, and emit the scrubbed text's hash + size deltas
    so the pipeline can verify the rewrite deterministically. All JVM
    higher-order functions — map-only, no shuffle, scales linearly."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    clean = F.filter(toks, lambda t: ~t.isin("a", "the"))
    clean_txt = F.array_join(clean, " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(toks) - F.size(clean)).cast("bigint").alias("n_removed"),
        F.sha2(clean_txt.cast("binary"), 256).alias("clean_sha"),
        F.length(clean_txt).cast("bigint").alias("clean_chars"),
    )


# Benchmark shingles a training corpus must not contain — stand-ins for
# eval-set n-grams; real pipelines load these from the benchmark files.
_CONTAM_BIGRAMS = (
    "spark value",
    "table key",
    "query line",
    "batch window",
    "fast sort",
)


@register(
    "text_decontaminate",
    oracle=f"""
        WITH g AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1])) AS grams
            FROM documents
        )
        SELECT doc_id,
               CAST(len(list_intersect(grams,
                        {list(_CONTAM_BIGRAMS)})) AS BIGINT) AS n_hits,
               len(list_intersect(grams,
                        {list(_CONTAM_BIGRAMS)})) > 0 AS contaminated,
               COALESCE(array_to_string(list_sort(list_intersect(grams,
                        {list(_CONTAM_BIGRAMS)})), '|'), '') AS hits
        FROM g
    """,
    section=SECTION,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents whose bigram shingles
    intersect a blocklist of eval-set n-grams — the screening step
    that keeps test data out of a training corpus. The blocklist is a
    broadcast-sized literal array (real benchmarks: thousands of
    shingles — still broadcastable); the scan is map-only
    array_intersect over the same _BIGRAMS shingles the dedup kernels
    use, so at 100 TB this rides the same single pass."""
    d = load_table(spark, sf_dir, "documents")
    block = F.array(*[F.lit(b) for b in _CONTAM_BIGRAMS])
    hits = F.array_intersect(_BIGRAMS(), block)
    return d.select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_hits"),
        (F.size(hits) > 0).alias("contaminated"),
        F.array_join(F.array_sort(hits), "|").alias("hits"),
    )


@register(
    "sim_norm_stats",
    oracle="""
        WITH n AS (
            SELECT label,
                   ROUND(sqrt(list_dot_product(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6)
                       AS nrm
            FROM embeddings
        )
        SELECT label, COUNT(*) AS n_vectors,
               CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) AS total_norm,
               MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
        FROM n GROUP BY label
    """,
    section=SECTION,
)
def sim_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm monitoring per label — the drift/sanity check an
    embedding store runs at ingest (unit-norm inputs ⇒ norms ≈ 1; a
    drifting encoder shows up here first). Determinism discipline:
    per-row norms are sequential JVM folds (exact cross-engine, same
    pin as mm_embedding_quantize), then rounded to 6 dp and summed as
    DECIMAL — so the cross-row aggregate is order-independent, the
    correct posture for a partitioned 100 TB aggregation."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    nrm = ratio(l2_norm(F.col("emb")))
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double").alias(
                "total_norm"
            ),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


_KEEP_BEST_ORACLE = _CLUSTER_ORACLE.replace(
    """    SELECT doc_id, MIN(r) AS canonical_id, (MIN(r) <> doc_id) AS is_dup
    FROM reach GROUP BY doc_id""",
    """    , assign AS (
        SELECT doc_id, MIN(r) AS canonical_id FROM reach GROUP BY doc_id
    )
    SELECT canonical_id,
           doc_id AS keeper_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_chars AS BIGINT) AS keeper_chars
    FROM (
        SELECT a.canonical_id, a.doc_id, d.n_chars,
               COUNT(*) OVER (PARTITION BY a.canonical_id) AS n_members,
               row_number() OVER (
                   PARTITION BY a.canonical_id
                   ORDER BY d.n_chars DESC, a.doc_id) AS rn
        FROM assign a JOIN documents d ON d.doc_id = a.doc_id
    ) WHERE rn = 1""",
)


@register("dedup_keep_best", oracle=_KEEP_BEST_ORACLE, section=SECTION)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final step: pick ONE representative per
    near-dup cluster (longest text wins, min doc_id breaks ties) —
    the output corpus is exactly these keepers. Composes
    dedup_cluster_assign (pairs → connected components) with a
    per-cluster window rank over the quality signal; singleton docs
    are their own cluster and always survive.

    Scale: the window partitions by canonical_id — cluster-sized
    partitions (bounded by dup-cluster size, not corpus size); the
    ranking sort is partition-local. Oracle recomputes the same
    clusters via the recursive CTE and the same argmax."""
    assign = dedup_cluster_assign(spark, sf_dir).select(
        "doc_id", "canonical_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = assign.join(docs, "doc_id")
    wc = Window.partitionBy("canonical_id")
    wr = Window.partitionBy("canonical_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "canonical_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("n_chars").cast("bigint").alias("keeper_chars"),
        )
    )


_SPAN_W = 8  # words per non-overlapping dedup span

_SPAN_DEDUP_ORACLE = f"""
    WITH spans AS (
        SELECT doc_id,
               UNNEST(list_transform(
                   range(0, CAST(floor(len(string_split(text, ' ')) / {_SPAN_W})
                               AS BIGINT)),
                   i -> array_to_string(
                       string_split(text, ' ')[(i*{_SPAN_W}+1):(i*{_SPAN_W}+{_SPAN_W})],
                       ' '))) AS span
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_SPAN_W}
    )
    SELECT span,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM spans
    GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= 2
"""


@register("text_span_dedup", oracle=_SPAN_DEDUP_ORACLE, section=SECTION)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span inventory — the scalable stand-in
    for suffix-array substring dedup: chop every document into
    non-overlapping 8-word spans and report each span that occurs in
    ≥2 distinct documents (boilerplate headers, license blocks, and
    template text surface here long before whole docs look similar).

    Scale shape: explode + ONE shuffle on the span content key with
    map-side partial aggregation — linear in corpus token count, no
    pair join anywhere. At 100 TB the group key would be
    ``sha2(span)`` (16 bytes instead of a ~50-byte string) with the
    span text reattached only for the surviving duplicates; the
    fixture keys on the text directly so the oracle pins the spans
    themselves. The span counts feed removal downstream: a doc drops
    the spans whose (span, n_docs) crosses policy, exactly C4's
    repeated-line rule with spans for lines (fixture text has no
    newlines)."""
    toks = F.split("text", " ")
    n_spans = F.floor(F.size(toks) / _SPAN_W).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(toks, i * _SPAN_W + 1, _SPAN_W), " "),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= _SPAN_W)  # sequence(0,-1) guard
        .select("doc_id", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_REPETITION_ORACLE = """
    WITH tg AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2]) AS tris
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT doc_id,
           CAST(len(tris) AS BIGINT) AS n_trigrams,
           ROUND(1.0 - len(list_distinct(tris)) * 1.0 / len(tris), 6)
               AS dup_frac,
           (1.0 - len(list_distinct(tris)) * 1.0 / len(tris)) > 0.3
               AS flagged
    FROM tg
"""


@register("text_repetition_score", oracle=_REPETITION_ORACLE, section=SECTION)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signal — the duplicate
    word-trigram fraction (1 - distinct/total), the Gopher-style rule
    that catches boilerplate loops and degenerate generations that
    length/stopword filters miss; docs above 0.3 are flagged for
    removal.

    Map-only: trigrams come from two JVM zip_with folds over the
    already-split token array (never transform+element_at, which
    re-evaluates the split per element — see _BIGRAMS), and the
    distinct/total ratio is array arithmetic inside the row. No
    shuffle at any size — this is a projection at 100 TB."""
    toks = F.split("text", " ")
    big = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tri = F.filter(
        F.zip_with(
            big,
            F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
        lambda g: g.isNotNull(),
    )
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", tri.alias("tris"))
    )
    dup = 1.0 - F.size(F.array_distinct("tris")) / F.size("tris")
    return d.select(
        "doc_id",
        F.size("tris").cast("bigint").alias("n_trigrams"),
        ratio(dup).alias("dup_frac"),
        (dup > 0.3).alias("flagged"),
    )


_CENTROID_AFFINITY_ORACLE = """
    WITH s AS (
        SELECT label, i AS dim,
               CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(12,6)))
                    AS DOUBLE) AS sv
        FROM (SELECT label, UNNEST(embedding) AS v,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
        GROUP BY label, i
    ),
    arr AS (
        SELECT label, list(sv ORDER BY dim) AS va FROM s GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(list_dot_product(a.va, b.va)
                 / (sqrt(list_dot_product(a.va, a.va))
                    * sqrt(list_dot_product(b.va, b.va))), 6) AS cosine
    FROM arr a JOIN arr b ON a.label < b.label
"""


@register(
    "sim_centroid_affinity", oracle=_CENTROID_AFFINITY_ORACLE, section=SECTION
)
def sim_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    cluster-overlap report that tells a curation pipeline which label
    pairs are near-duplicates of each other (candidates for merging)
    before any per-document work.

    Exactness at scale: a centroid is sum/n, and n cancels in cosine,
    so the whole computation runs on per-(label, dim) SUMS — each
    element cast to DECIMAL(12,6) so the cross-row aggregate is exact
    and order-independent (a partitioned double-sum drifts in the
    last ulps; decimal cannot). High-scale decimals are deliberately
    avoided: Spark silently REDUCES the scale of an overflowing
    decimal sum-of-products (its precision-adjustment rule), which
    made a (18,10)-based variant disagree with DuckDB by 1e-6 —
    (12,6) sums stay within 38 digits end-to-end and convert to
    double exactly (≤10 significant digits). The per-pair dot runs as
    the same sequential fold both engines pin elsewhere
    (functions/vector.dot ≡ list_dot_product, see sim_knn_join_label).
    Shuffles are bounded by labels × dims (640 keys here), never by
    row count; the label-pair stage is a broadcast cross of ~10 rows.
    """
    dec = F.col("v").cast("double").cast("decimal(12,6)")
    s = (
        load_table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.sum(dec).cast("double").alias("sv"))
    )
    arr = s.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "sv"))),
            lambda x: x["sv"],
        ).alias("va")
    )
    a = arr.select(F.col("label").alias("label_a"), F.col("va").alias("va_a"))
    b = arr.select(F.col("label").alias("label_b"), F.col("va").alias("va_b"))
    va, vb = F.col("va_a"), F.col("va_b")
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            ratio(cosine_sim(va, vb)).alias("cosine"),
        )
    )


_CLEAN_PIPELINE_ORACLE = _CLUSTER_ORACLE.replace(
    """    SELECT doc_id, MIN(r) AS canonical_id, (MIN(r) <> doc_id) AS is_dup
    FROM reach GROUP BY doc_id""",
    """    , assign AS (
        SELECT doc_id, MIN(r) AS canonical_id FROM reach GROUP BY doc_id
    ), keepers AS (
        SELECT doc_id FROM (
            SELECT a.doc_id,
                   row_number() OVER (
                       PARTITION BY a.canonical_id
                       ORDER BY d.n_chars DESC, a.doc_id) AS rn
            FROM assign a JOIN documents d ON d.doc_id = a.doc_id
        ) WHERE rn = 1
    )
    SELECT lang, source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM documents d
    JOIN keepers k ON k.doc_id = d.doc_id
    WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80
      AND len(list_filter(string_split(text, ' '),
                          t -> t IN ('the', 'a'))) * 1.0
              / len(string_split(text, ' ')) < 0.15
      AND len(list_distinct(string_split(text, ' '))) * 1.0
              / len(string_split(text, ' ')) > 0.3
    GROUP BY lang, source""",
)


@register(
    "text_clean_pipeline", oracle=_CLEAN_PIPELINE_ORACLE, section=SECTION
)
def text_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end cleaning job, composed from this module's own
    stages: near-dup clusters → one keeper per cluster (longest text,
    dedup_keep_best's rule) → heuristic quality gate
    (text_quality_filter's thresholds) → the kept-corpus report per
    (lang, source). This is the operator a data curator actually
    schedules; everything else in §2.K is a stage of it, and the
    oracle recomputes the WHOLE composition (recursive-CTE clusters +
    keeper argmax + quality predicates) so the stages are pinned to
    compose correctly, not just to work alone.

    Scale: inherits each stage's shape — bucketed pair finding +
    contracted label propagation (dedup_cluster_assign), cluster-local
    keeper rank, map-only quality predicates, and a final
    low-cardinality (lang, source) rollup. A left-semi join applies
    the keeper set without widening rows."""
    keepers = dedup_keep_best(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    quality = (
        n_tokens.between(20, 80)
        & (n_stop * F.lit(1.0) / n_tokens < 0.15)
        & (F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tokens > 0.3)
    )
    return (
        d.filter(quality)
        .join(keepers, "doc_id", "left_semi")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )


_BIGRAM_LM_ORACLE = """
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), big AS (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM toks, (SELECT UNNEST(range(1, 200)) AS i)
        WHERE i < len(t)
    ), cnt AS (
        SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY w1, w2
    ), tot AS (
        SELECT w1, SUM(n12) AS n1 FROM cnt GROUP BY w1
    )
    SELECT c.w1, c.w2,
           CAST(c.n12 AS BIGINT) AS n12,
           ROUND(c.n12 * 1.0 / t.n1, 6) AS p_cond
    FROM cnt c JOIN tot t ON t.w1 = c.w1
    WHERE c.n12 >= 20
"""


@register("text_bigram_lm", oracle=_BIGRAM_LM_ORACLE, section=SECTION)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model table: P(w2 | w1) = n(w1,w2)/n(w1·)
    for every bigram seen ≥20 times — the statistics LM-based quality
    scorers (and the unigram-surprisal op's natural extension) train
    from. Two aggregations on bounded keys: bigram counts (map-side
    combine collapses repeats before the shuffle) and left-word
    totals; the totals derive FROM the bigram counts, so the corpus
    is read once. At 100 TB the vocabulary bounds both keys —
    corpus size only raises the counts.

    The oracle's range-join bigram enumeration (DuckDB lacks zip-style
    list slicing in this form) caps documents at 200 tokens; fixture
    docs are ≤~80 tokens, so the cap is inert — the Spark side uses
    the usual zip_with fold with no cap."""
    toks = F.split("text", " ")
    grams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda g: g["w2"].isNotNull(),
    )
    cnt = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(grams).alias("g"))
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n12"))
    )
    cnt = track_persist(cnt)  # feeds both the totals agg and the join
    tot = cnt.groupBy("w1").agg(F.sum("n12").alias("n1"))
    return (
        cnt.join(tot, "w1")
        .filter(F.col("n12") >= 20)
        .select(
            "w1",
            "w2",
            F.col("n12").cast("bigint").alias("n12"),
            ratio(F.col("n12") * F.lit(1.0) / F.col("n1")).alias("p_cond"),
        )
    )


_OOV_ORACLE = """
    WITH tok AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
        FROM documents
    ), vocab AS (
        SELECT w FROM (
            SELECT w, COUNT(*) AS n,
                   row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
            FROM tok GROUP BY w
        ) WHERE rnk <= 24
    ), per_doc AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tok,
               COUNT(*) FILTER (WHERE v.w IS NULL) AS n_oov
        FROM tok t LEFT JOIN vocab v ON v.w = t.w
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(n_oov) * 1.0 / SUM(n_tok), 6) AS oov_rate
    FROM per_doc
    GROUP BY lang
"""


@register("text_oov_rate", oracle=_OOV_ORACLE, section=SECTION)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus's own
    top-24 token vocabulary — the coverage check run before fixing a
    tokenizer vocab (a language whose OOV rate spikes is about to be
    shredded into bytes). Vocabulary selection is TakeOrdered top-24
    over the frequency relation (per-partition top-k + a 24-row
    driver merge — no global sort even on an open vocabulary); the
    vocab then BROADCASTS into a left join against the token stream —
    at 100 TB the token side never shuffles, which is the entire
    point of a fixed-vocab design. Ranking ties break
    lexicographically on the token for cross-engine determinism."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # Top-24 vocabulary via orderBy+limit (TakeOrdered: per-partition
    # top-24 + a 24-row driver merge) — r10 review replaced a global
    # rank window here; the rank was only ever consumed by a ≤24 cut,
    # and the vocabulary is open (grows with the corpus), so the
    # single-partition sort was the one genuinely unbounded window
    # hiding behind a declared bound.
    vocab = (
        freq.orderBy(F.col("n").desc(), "w")
        .limit(24)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        ratio(F.sum("n_oov") * F.lit(1.0) / F.sum("n_tok")).alias("oov_rate"),
    )


@register(
    "dedup_fuzzy_edit",
    oracle="""
        WITH d AS (
            SELECT doc_id, substring(text, 1, 40) AS pre,
                   substring(text, 1, 4) AS blk
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.pre, b.pre) AS INT) AS edit_dist
        FROM d a JOIN d b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pre, b.pre) <= 10
    """,
    section=SECTION,
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection — the dedup family's third
    similarity measure (set Jaccard and embedding cosine miss
    character-level mutations: OCR noise, typo farms, template fills).
    Classic blocked fuzzy join: candidates must share a 4-char prefix
    block, so the self-join is an equi-shuffle on the block key —
    never an all-pairs cross — and each candidate pair pays one
    bounded ``levenshtein(threshold=10)`` (Spark's threshold form
    abandons the DP early once the bound is exceeded; the oracle's
    plain levenshtein agrees on every surviving pair). Comparison is
    over 40-char prefixes: O(40²) per pair, independent of document
    length.

    At 100 TB the block key is the scale knob: longer prefixes or
    (prefix, length-bucket) composite keys shrink blocks
    quadratically; hot blocks salt like any skewed join
    (join_skew_salted). The fixture's 4-char blocks cut candidate
    pairs ~30× while keeping every fixture near-dup pair in-block."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 40).alias("pre"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("pre").alias("pre_a"), "blk"
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("pre").alias("pre_b"), "blk"
    )
    # Explicit worker-count partitioning on the block key (r13, guide
    # §2.5): the join's shuffle is byte-tiny but its OUTPUT is the
    # O(block²) levenshtein loop — AQE's bytes-based coalescing ran
    # the whole pair sweep as one 2.5 s task. Hash-partitioning both
    # sides by blk at cluster parallelism spreads the blocks across
    # cores (the join reuses the partitioning, no extra exchange);
    # per-block skew stays bounded by the documented block-size knob.
    par = spark.sparkContext.defaultParallelism
    a, b = a.repartition(par, "blk"), b.repartition(par, "blk")
    ed = F.levenshtein("pre_a", "pre_b", 10)
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("edit_dist", ed)
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 10))
        .select("doc_a", "doc_b", F.col("edit_dist").cast("int"))
    )


@register(
    "sample_mixture_weights",
    oracle="""
        WITH b AS (
            SELECT lang,
                   COUNT(*) AS n_docs,
                   SUM(n_chars) AS n_chars
            FROM documents GROUP BY lang
        ), t AS (
            SELECT SUM(n_chars) AS total,
                   SUM(n_chars) * 1.0 / COUNT(*) AS target
            FROM b
        )
        SELECT lang,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_chars AS BIGINT) AS n_chars,
               ROUND(n_chars * 1.0 / t.total, 6) AS current_share,
               ROUND(1.0 / (SELECT COUNT(*) FROM b), 6) AS target_share,
               ROUND(LEAST(t.target / n_chars, 1.0), 6) AS sampling_rate,
               CAST(n_chars > t.target AS BOOLEAN) AS downsampled
        FROM b, t
    """,
    section=SECTION,
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing plan — the step between corpus audit
    and sampling: given the observed per-language char mass, derive
    the per-bucket DOWNSAMPLING rate that moves the mixture toward
    equal language shares without upsampling (rate capped at 1;
    under-represented languages keep everything — the conservative
    policy real pretraining mixtures use before resorting to epoch
    repetition). Feed the rates into sample_split_hash-style
    hash-threshold selection for a deterministic realization.

    One bounded-key aggregation (languages), then arithmetic against
    a broadcast 1-row total — no window, no second scan. At 100 TB
    the plan is identical: the bucket table is KB-sized regardless of
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    t = b.agg(
        F.sum("n_chars").alias("total"),
        (F.sum("n_chars") * F.lit(1.0) / F.count(F.lit(1))).alias("target"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return (
        b.join(F.broadcast(t))  # 1-row totals — broadcast, not a shuffle
        .select(
            "lang",
            F.col("n_docs").cast("bigint"),
            F.col("n_chars").cast("bigint"),
            ratio(F.col("n_chars") * F.lit(1.0) / F.col("total")).alias(
                "current_share"
            ),
            ratio(F.lit(1.0) / F.col("n_langs")).alias("target_share"),
            ratio(
                F.least(F.col("target") / F.col("n_chars"), F.lit(1.0))
            ).alias("sampling_rate"),
            (F.col("n_chars") > F.col("target")).alias("downsampled"),
        )
    )


_CHUNK_W = 16  # tokens per chunk
_CHUNK_STRIDE = 12  # 4-token overlap between consecutive chunks


@register(
    "text_chunk_splitter",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) > {_CHUNK_W - _CHUNK_STRIDE}
        )
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               CAST(i * {_CHUNK_STRIDE} + 1 AS BIGINT) AS token_start,
               array_to_string(
                   toks[(i*{_CHUNK_STRIDE}+1):(i*{_CHUNK_STRIDE}+{_CHUNK_W})],
                   ' ') AS chunk,
               CAST(least({_CHUNK_W},
                          len(toks) - i*{_CHUNK_STRIDE}) AS INT)
                   AS n_tokens
        FROM d, UNNEST(range(0,
            CAST(ceil((len(toks) - {_CHUNK_W - _CHUNK_STRIDE})
                      / {_CHUNK_STRIDE}.0) AS BIGINT))) t(i)
    """,
    section=SECTION,
)
def text_chunk_splitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding chunking — the step between cleaning and
    encoding: split every document into {w}-token chunks with a
    {o}-token overlap (stride {s}), emitting (doc, chunk_idx,
    token_start, chunk text, actual token count). Pure JVM array
    ops: split once, `explode(sequence)` one row per chunk,
    `slice` + `array_join` per chunk — map-only, linear in token
    count, no shuffle anywhere; at 100 TB this fuses into the scan
    that feeds the encoder. The trailing chunk keeps its short tail
    (n_tokens < {w}) rather than dropping text — the policy RAG
    pipelines want, pinned by the oracle's identical slicing.""".format(
        w=_CHUNK_W, o=_CHUNK_W - _CHUNK_STRIDE, s=_CHUNK_STRIDE
    )
    n_chunks = F.ceil(
        (F.size("toks") - F.lit(_CHUNK_W - _CHUNK_STRIDE))
        / F.lit(float(_CHUNK_STRIDE))
    ).cast("int")
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") > _CHUNK_W - _CHUNK_STRIDE)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        )
    )
    start = F.col("i") * _CHUNK_STRIDE + 1
    return d.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        start.cast("bigint").alias("token_start"),
        F.array_join(F.slice("toks", start, _CHUNK_W), " ").alias("chunk"),
        F.least(
            F.lit(_CHUNK_W), F.size("toks") - F.col("i") * _CHUNK_STRIDE
        )
        .cast("int")
        .alias("n_tokens"),
    )


@register(
    "text_pii_scrub",
    oracle="""
        WITH msgs AS (
            SELECT event_type,
                   'user <u' || CAST(user_id AS VARCHAR)
                   || '@example.com> from 10.'
                   || CAST(user_id % 250 AS VARCHAR) || '.'
                   || CAST(event_id % 250 AS VARCHAR) || '.'
                   || CAST(CAST(floor(value) AS BIGINT) % 250 AS VARCHAR)
                   || CASE WHEN user_id % 3 = 0
                           THEN ' cc <admin' || CAST(user_id AS VARCHAR)
                                || '@example.com>'
                           ELSE '' END
                   || ' action=' || event_type AS msg
            FROM events
        ), scrubbed AS (
            SELECT event_type,
                   len(regexp_extract_all(msg,
                       '[a-z0-9]+@example\\.com')) AS n_emails,
                   len(regexp_extract_all(msg,
                       '10\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS n_ips,
                   regexp_replace(
                       regexp_replace(msg, '[a-z0-9]+@example\\.com',
                                      '[EMAIL]', 'g'),
                       '10\\.[0-9]+\\.[0-9]+\\.[0-9]+', '[IP]', 'g') AS clean
            FROM msgs
        )
        SELECT event_type,
               COUNT(*) AS n_msgs,
               CAST(SUM(n_emails) AS BIGINT) AS n_emails,
               CAST(SUM(n_ips) AS BIGINT) AS n_ips,
               CAST(SUM(len(clean)) AS BIGINT) AS scrubbed_chars,
               CAST(SUM(CASE WHEN clean LIKE '%@example.com%'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
        FROM scrubbed GROUP BY event_type
    """,
    section=SECTION,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the mandatory scrub before log text enters a
    training corpus: emails and IPv4 addresses are replaced with
    typed placeholders and the redaction counts audited per event
    type (n_leaks pins that NOTHING matching the email pattern
    survives). Synthetic messages are formatted in-query from event
    fields (the fixture has no raw PII — same round-trip discipline as
    ingest_raw_loglines), so both engines scrub byte-identical inputs.
    Map-only regexp work inside whole-stage codegen + one bounded
    (event_type) shuffle; at 100 TB this runs at scan speed — no UDF,
    no Python."""
    ev = load_table(spark, sf_dir, "events")
    msg = F.concat(
        F.lit("user <u"),
        F.col("user_id").cast("string"),
        F.lit("@example.com> from 10."),
        (F.col("user_id") % 250).cast("string"),
        F.lit("."),
        (F.col("event_id") % 250).cast("string"),
        F.lit("."),
        (F.floor("value").cast("bigint") % 250).cast("string"),
        F.when(
            F.col("user_id") % 3 == 0,
            F.concat(
                F.lit(" cc <admin"),
                F.col("user_id").cast("string"),
                F.lit("@example.com>"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" action="),
        F.col("event_type"),
    )
    email_pat = r"[a-z0-9]+@example\.com"
    ip_pat = r"10\.[0-9]+\.[0-9]+\.[0-9]+"
    m = ev.select("event_type", msg.alias("msg"))
    s = m.select(
        "event_type",
        F.regexp_count("msg", F.lit(email_pat)).alias("n_emails"),
        F.regexp_count("msg", F.lit(ip_pat)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace("msg", email_pat, "[EMAIL]"),
            ip_pat,
            "[IP]",
        ).alias("clean"),
    )
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum(F.length("clean")).cast("bigint").alias("scrubbed_chars"),
        F.sum(F.col("clean").contains("@example.com").cast("int"))
        .cast("bigint")
        .alias("n_leaks"),
    )


@register(
    "text_html_strip",
    oracle="""
        WITH wrapped AS (
            SELECT doc_id, lang, text,
                   '<div id="d' || CAST(doc_id AS VARCHAR) || '"><p>'
                   || replace(text, 'join', '<b>join</b>')
                   || '</p><br/></div>' AS html
            FROM documents
        ), stripped AS (
            SELECT doc_id, lang, text,
                   len(regexp_extract_all(html, '<[^>]+>')) AS n_tags,
                   regexp_replace(html, '<[^>]+>', '', 'g') AS clean
            FROM wrapped
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tags) AS BIGINT) AS tags_removed,
               CAST(SUM(CASE WHEN clean = text THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_roundtrip_exact,
               CAST(SUM(len(clean)) AS BIGINT) AS clean_chars
        FROM stripped GROUP BY lang
    """,
    section=SECTION,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping — the first stage of every web-crawl text
    pipeline: tags are removed with a single regexp and the result
    audited against the known-clean source (the markup is synthesized
    in-query around the fixture text — wrapper div/p/br plus inline
    <b> around a body token — so "strip returns the original" is an
    exact, per-document checkable claim; n_roundtrip_exact pins it
    for every doc). Map-only regexp in whole-stage codegen + one
    bounded (lang) shuffle — crawl-scale HTML runs at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div id="d'),
        F.col("doc_id").cast("string"),
        F.lit('"><p>'),
        F.replace(F.col("text"), F.lit("join"), F.lit("<b>join</b>")),
        F.lit("</p><br/></div>"),
    )
    tag_pat = r"<[^>]+>"
    s = d.select(
        "lang",
        "text",
        F.regexp_count(html, F.lit(tag_pat)).alias("n_tags"),
        F.regexp_replace(html, tag_pat, "").alias("clean"),
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tags").cast("bigint").alias("tags_removed"),
        F.sum((F.col("clean") == F.col("text")).cast("int"))
        .cast("bigint")
        .alias("n_roundtrip_exact"),
        F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
    )


@register(
    "text_normalize_dedup",
    # The corpus is wired: every doc_id % 7 == 0 gets a reformatted
    # twin (uppercased, punctuation-wrapped, double-spaced) at
    # doc_id + 10^9 — the dirty-variant shapes a crawl actually
    # yields, synthesized in-query (the fixture has no raw dups at
    # sf0.01; same round-trip discipline as ingest_raw_loglines).
    # Every twin MUST land in its source's group, so group count and
    # membership are exact checkable claims, not corpus accidents.
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000000,
                   '  ' || replace(upper(text), ' ', '  ') || ' !!'
            FROM documents WHERE doc_id % 7 = 0
        ), norm AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9 ]', ' ', 'g'),
                       ' +', ' ', 'g'))) AS norm_hash
            FROM corpus
        )
        SELECT norm_hash,
               COUNT(*) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM norm
        GROUP BY norm_hash
        HAVING COUNT(*) >= 2
    """,
    section=SECTION,
)
def text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup — the cheap pass every pipeline runs
    BEFORE near-dup mining: case-fold, strip punctuation, collapse
    whitespace, then group by the md5 of the canonical form (catches
    the reformattings dedup_exact's raw-byte hash misses; what
    survives goes to MinHash). Dirty variants are synthesized
    in-query for every 7th doc so the normalization provably
    collapses real reformattings at every fixture scale. Map-only
    normalization in whole-stage codegen + ONE shuffle on the
    16-byte hash — the same linear hash-groupBy shape as dedup_exact,
    so it runs at ingest speed at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    dirty = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.replace(F.upper("text"), F.lit(" "), F.lit("  ")),
            F.lit(" !!"),
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionAll(dirty)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", " "),
            r" +",
            " ",
        )
    )
    return (
        corpus.select("doc_id", F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "text_langid_confusion",
    oracle="""
        WITH scored AS (
            SELECT lang,
                   len(list_filter(string_split(text,' '),
                       t -> t IN ('the','a','of')))  AS s_en,
                   len(list_filter(string_split(text,' '),
                       t -> t IN ('der','die','das'))) AS s_de,
                   len(list_filter(string_split(text,' '),
                       t -> t IN ('le','la','les')))  AS s_fr
            FROM documents
        ), guessed AS (
            SELECT lang AS labeled_lang,
                   CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS guessed_lang
            FROM scored
        )
        SELECT labeled_lang, guessed_lang,
               COUNT(*) AS n_docs,
               ROUND(COUNT(*) * 1.0 / SUM(COUNT(*))
                     OVER (PARTITION BY labeled_lang), 6) AS label_share
        FROM guessed GROUP BY labeled_lang, guessed_lang
    """,
    section=SECTION,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the accuracy report for the
    classifier text_lang_id IS: labeled × guessed cells with per-label
    shares (the diagonal is recall; off-diagonal cells say which
    languages the stoplist profile confuses). Composes text_lang_id's
    exact scoring, then one bounded (3×3) shuffle; the share window
    runs over ≤9 cells. The report a curator checks before trusting
    lang-filtered corpus splits."""
    guessed = text_lang_id(spark, sf_dir)
    cells = guessed.groupBy("labeled_lang", "guessed_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "guessed_lang",
        "n_docs",
        ratio(F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w)).alias(
            "label_share"
        ),
    )


@register(
    "sim_neighbor_stats_tiled",
    # Exact all-pairs cosine neighbor statistics; the oracle recomputes
    # the full n² matrix relationally. Double discipline: each side
    # sums 64-term dot products in its own order (numpy pairwise vs
    # SQL sequential) — the ~1e-15 relative difference vanishes under
    # ROUND 6, and threshold counts flip only if a cosine sits within
    # an ulp of 0.4 (fixture-checked not to).
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v,
                   sqrt(list_aggregate(list_transform(v, x -> x * x),
                                       'sum')) AS nrm
            FROM e
        ), p AS (
            SELECT a.vec_id AS vec_id,
                   list_aggregate(list_transform(list_zip(a.v, b.v),
                                                 t -> t[1] * t[2]), 'sum')
                       / (a.nrm * b.nrm) AS cos
            FROM n a JOIN n b ON a.vec_id <> b.vec_id
        )
        SELECT vec_id,
               CAST(COUNT(*) AS BIGINT) AS n_neighbors,
               ROUND(AVG(cos), 6) AS mean_sim
        FROM p WHERE cos >= 0.4
        GROUP BY vec_id
    """,
    section=SECTION,
)
def sim_neighbor_stats_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector neighborhood statistics over the EXACT all-pairs
    cosine matrix — the density profile an embedding-dedup run is
    tuned against (how many ≥0.4 neighbors does each vector have, and
    how similar are they). Computed with the same tiled BLAS-gemm
    kernel as the bigram dedup sweep (cache-blocked float64 matmul —
    bandwidth-immune under full-core concurrency; see
    _tiled_bitmask_pairs): vectors hash into blocks, every block pair
    becomes one Arrow tile, each tile emits per-row partial
    (count, sum) pairs, and one bounded groupBy merges partials. At
    100 TB the tiling bounds memory to one tile; this op stays the
    declared O(n²) exact profile (the ANN ops are the serving path)."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = track_persist(e)
    n_vecs = e.count()
    n_blocks = max(2, -(-n_vecs // 600))
    block = e.groupBy(
        (F.col("vec_id") % n_blocks).cast("int").alias("blk")
    ).agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vecs"))
    tiles = (
        block.alias("x")
        .join(block.alias("y"), F.lit(True))
        .select(
            F.col("x.vecs").alias("vecs_a"), F.col("y.vecs").alias("vecs_b")
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def tile_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def unpack(cell):
            ids = np.array([r["vec_id"] for r in cell], dtype=np.int64)
            m = np.array([r["embedding"] for r in cell], dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            return ids, m

        for pdf in batches:
            outs = []
            for vecs_a, vecs_b in zip(pdf["vecs_a"], pdf["vecs_b"]):
                ia, ma = unpack(vecs_a)
                ib, mb = unpack(vecs_b)
                cos = ma @ mb.T
                hit = (cos >= 0.4) & (ia[:, None] != ib[None, :])
                outs.append(
                    (
                        ia,
                        hit.sum(axis=1).astype(np.int64),
                        np.where(hit, cos, 0.0).sum(axis=1),
                    )
                )
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate([o[0] for o in outs])
                    if outs
                    else empty,
                    "cnt": np.concatenate([o[1] for o in outs])
                    if outs
                    else empty,
                    "s": np.concatenate([o[2] for o in outs])
                    if outs
                    else empty.astype(float),
                }
            )

    partials = tiles.mapInPandas(
        tile_kernel, "vec_id bigint, cnt bigint, s double"
    )
    return (
        partials.groupBy("vec_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_neighbors"),
            (F.sum("s") / F.sum("cnt")).alias("m"),
        )
        .filter(F.col("n_neighbors") > 0)
        .select("vec_id", "n_neighbors", ratio(F.col("m")).alias("mean_sim"))
    )


@register(
    "text_vocab_growth",
    oracle="""
        WITH firsts AS (
            SELECT token, MIN(doc_id) AS first_doc
            FROM (
                SELECT doc_id,
                       unnest(list_distinct(string_split(text, ' ')))
                           AS token
                FROM documents
            ) GROUP BY token
        ), ks AS (
            SELECT unnest([10, 25, 50, 100, 250, 500]) AS k
        )
        SELECT k,
               CAST(COUNT(*) FILTER (WHERE first_doc < k) AS BIGINT)
                   AS vocab_size
        FROM ks CROSS JOIN firsts
        GROUP BY k
    """,
    section=SECTION,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law diagnostic) — "how fast
    does this corpus stop surprising the tokenizer": distinct vocab
    size after the first k documents, for a fixed k ladder. Computed
    from each token's FIRST document (one token-keyed min — the
    token stream shuffles once on the vocab-bounded key) and a
    broadcast k-ladder join; no per-k rescan, no running distinct
    over documents. The curve a curator reads to size tokenizer
    vocabularies and spot template-heavy (flat-curve) corpora."""
    d = load_table(spark, sf_dir, "documents")
    firsts = (
        d.select(
            "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
        )
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    ks = spark.createDataFrame(
        [(k,) for k in (10, 25, 50, 100, 250, 500)], "k int"
    )
    return (
        firsts.join(F.broadcast(ks), F.lit(True))
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("first_doc") < F.col("k"), 1))
            .cast("bigint")
            .alias("vocab_size")
        )
    )


@register(
    "text_bigram_novelty",
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]))) AS gram
            FROM documents
        ), firsts AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
        )
        SELECT g.doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS novelty
        FROM grams g JOIN firsts f ON f.gram = g.gram
        GROUP BY g.doc_id
    """,
    section=SECTION,
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram novelty — the dedup diagnostic that ranks
    documents by how much genuinely NEW phrasing they add to the
    corpus (novelty ≈ 0 means the doc restates earlier material —
    the first thing a curator inspects when near-dup rates spike):
    each distinct bigram's first document (one gram-keyed min — the
    same first-occurrence relation text_vocab_growth uses over
    unigrams), joined back to score every doc's share of self-first
    bigrams. Two shuffles on the gram key, both vocab-bounded; the
    scoring join is gram→docs and never widens past the gram
    stream."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(_BIGRAMS())).alias("gram")
    )
    grams = track_persist(grams)  # feeds firsts and the scoring join
    firsts = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
            ratio(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
                * F.lit(1.0)
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
    )


@register(
    "text_similar_docs_topk",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   list_sort(list_distinct(string_split(text, ' '))) AS toks
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS doc_id, b.doc_id AS other_id,
                   len(list_intersect(a.toks, b.toks)) * 1.0 /
                   (len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks))) AS jac
            FROM tok a JOIN tok b ON a.doc_id <> b.doc_id
        )
        SELECT doc_id, other_id, CAST(rnk AS INT) AS rnk,
               ROUND(jac, 6) AS jaccard
        FROM (
            SELECT doc_id, other_id, jac,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY jac DESC, other_id) AS rnk
            FROM pairs WHERE jac >= 0.5
        ) WHERE rnk <= 3
    """,
    section=SECTION,
)
def text_similar_docs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"More like this" — each document's top-3 nearest neighbors by
    word-set Jaccard (threshold 0.5, deterministic tiebreak): the
    related-documents listing a curator or search UI renders next to
    every hit. Rides the exact all-pairs set sweep (_set_pairs: the
    nested-loop bitmask kernel at the fixture's 31-word vocabulary),
    symmetrizes the a<b pairs, and ranks within each doc's
    threshold-bounded neighbor list — partitions are neighbor-list-
    sized, never corpus-sized. The oracle recomputes the full n²
    relation relationally."""
    # Persisted BEFORE the symmetric union (r13, guide §2.4 — same fix
    # dedup_cluster_assign carries): without it BOTH unionAll branches
    # re-execute the entire all-pairs kernel sweep — profiled as two
    # 1.3-1.8 s 64-task jobs for one op, the single largest line item.
    pairs = track_persist(
        # NOT eager (r13 A/B): the duplicated kernel sweep is a wide
        # 64-task stage — the union branches' race runs concurrently
        # on idle cores; an up-front count() serialized it (+0.8 s).
        _set_pairs(spark, *_word_sets(spark, sf_dir), 0.5)
    )
    sym = pairs.unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "score",
        )
    )
    w = Window.partitionBy("doc_a").orderBy(F.col("score").desc(), "doc_b")
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("other_id"),
            F.col("rnk").cast("int").alias("rnk"),
            ratio(F.col("score")).alias("jaccard"),
        )
    )


@register(
    "text_containment_dedup",
    oracle="""
        WITH g AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]))) AS grams
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
                     len(a.grams), 6) AS containment,
               len(list_intersect(a.grams, b.grams)) = len(a.grams)
                   AS is_full
        FROM g a JOIN g b ON a.doc_id <> b.doc_id
        WHERE len(a.grams) > 0
          AND len(b.grams) >= CAST(ceil(0.8 * len(a.grams)) AS BIGINT)
          AND len(list_intersect(a.grams, b.grams)) * 1.0 /
              len(a.grams) >= 0.8
    """,
    section=SECTION,
)
def text_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: doc_a is contained in doc_b when >= 80% of
    a's bigram shingles appear in b — the excerpt/quote/superset case
    Jaccard misses entirely (a 100-word quote inside a 10k-word page
    has Jaccard ~0.01 but containment ~1.0). Deduping a training
    corpus on Jaccard alone keeps both the page and the excerpt;
    containment finds the redundant one and says WHICH side to drop
    (the contained doc_a).

    Bigram shingles (not word sets) so reorderings don't count as
    containment. Pair loop: _set_pairs in containment mode — at the
    fixture's 961 bigrams the tiled gemm kernel (asymmetric: the
    intersection matrix one tile computes serves BOTH orientations,
    divided by |row| or |col|); on open vocabularies the sorted-array
    pair join with the one admissible prefilter (|B| >= 0.8|A| — the
    container can be arbitrarily LARGER, so no symmetric size-ratio
    bound exists). Declared exact all-pairs twin either way; at scale
    superset-search needs a different sketch than the Jaccard
    composites' banded MinHash (bottom-k containment minhash),
    documented, not faked."""
    return _containment_rows(
        _set_pairs(
            spark, *_bigram_sets(spark, sf_dir), 0.8, metric="containment"
        )
    )


def _containment_rows(pairs: DataFrame) -> DataFrame:
    """The containment ops' output projection of _set_pairs rows."""
    return pairs.select(
        "doc_a",
        "doc_b",
        ratio(F.col("score")).alias("containment"),
        (F.col("score") >= 1.0).alias("is_full"),
    )


@register(
    "embed_dim_stats",
    oracle="""
        WITH dims AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6)
                        AS DECIMAL(18,6)) AS x
            FROM embeddings
        ), sums AS (
            SELECT dim, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(x * x) AS sxx,
                   MIN(x) AS mn, MAX(x) AS mx
            FROM dims GROUP BY dim
        )
        SELECT CAST(dim AS INT) AS dim, n AS n_vecs,
               ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean,
               ROUND(sqrt((n * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          / (n * (n - 1.0))), 6) AS stddev,
               CAST(mn AS DOUBLE) AS min_val,
               CAST(mx AS DOUBLE) AS max_val,
               mn = mx AS is_dead
        FROM sums
    """,
    section=SECTION,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health stats of the embedding column — the QA
    pass before whitening/quantization: a dimension whose min equals
    its max is dead (carries no information; quantizers waste bits on
    it), and per-dim mean/stddev are the whitening parameters
    themselves.

    Exactness discipline (the sim_norm_stats pattern): each float32
    value casts to double exactly on both engines, is rounded to 6 dp
    and summed as DECIMAL(18,6) — order-independent — so mean and the
    sum-of-squares variance are deterministic; doubles reappear only
    in the final division/sqrt on identical exact inputs. Scale
    shape: posexplode fans each row into d dim-rows, but partial
    aggregation combines them map-side to d rows per partition, so
    the shuffle carries ~d x n_partitions rows, grouped on a
    d-bounded key."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "xd")
    ).select("dim", ratio("xd").cast("decimal(18,6)").alias("x"))
    sums = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    sx_d, sxx_d = F.col("sx").cast("double"), F.col("sxx").cast("double")
    var = (F.col("n") * sxx_d - sx_d * sx_d) / (
        F.col("n") * (F.col("n") - F.lit(1.0))
    )
    return sums.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").alias("n_vecs"),
        ratio(sx_d / F.col("n")).alias("mean"),
        ratio(F.sqrt(var)).alias("stddev"),
        F.col("mn").cast("double").alias("min_val"),
        F.col("mx").cast("double").alias("max_val"),
        (F.col("mn") == F.col("mx")).alias("is_dead"),
    )


@register(
    "sim_mmr_diversify",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), probe AS (SELECT emb FROM e WHERE vec_id = 0),
        rel AS (
            SELECT e.vec_id, e.emb,
                   ROUND(list_dot_product(e.emb, probe.emb), 6) AS rel
            FROM e, probe WHERE e.vec_id <> 0
            ORDER BY rel DESC, e.vec_id LIMIT 8
        ), sims AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   ROUND(list_dot_product(a.emb, b.emb), 6) AS sim
            FROM rel a JOIN rel b ON a.vec_id <> b.vec_id
        ),
        s1 AS (SELECT vec_id, rel, ROUND(0.7 * rel, 6) AS mmr
               FROM rel ORDER BY rel DESC, vec_id LIMIT 1),
        s2 AS (SELECT r.vec_id, r.rel,
                      ROUND(0.7 * r.rel - 0.3 * MAX(s.sim), 6) AS mmr
               FROM rel r JOIN sims s ON s.va = r.vec_id
               WHERE s.vb IN (SELECT vec_id FROM s1)
                 AND r.vec_id NOT IN (SELECT vec_id FROM s1)
               GROUP BY r.vec_id, r.rel
               ORDER BY mmr DESC, r.vec_id LIMIT 1),
        s3 AS (SELECT r.vec_id, r.rel,
                      ROUND(0.7 * r.rel - 0.3 * MAX(s.sim), 6) AS mmr
               FROM rel r JOIN sims s ON s.va = r.vec_id
               WHERE s.vb IN (SELECT vec_id FROM s1
                              UNION SELECT vec_id FROM s2)
                 AND r.vec_id NOT IN (SELECT vec_id FROM s1
                                      UNION SELECT vec_id FROM s2)
               GROUP BY r.vec_id, r.rel
               ORDER BY mmr DESC, r.vec_id LIMIT 1),
        s4 AS (SELECT r.vec_id, r.rel,
                      ROUND(0.7 * r.rel - 0.3 * MAX(s.sim), 6) AS mmr
               FROM rel r JOIN sims s ON s.va = r.vec_id
               WHERE s.vb IN (SELECT vec_id FROM s1
                              UNION SELECT vec_id FROM s2
                              UNION SELECT vec_id FROM s3)
                 AND r.vec_id NOT IN (SELECT vec_id FROM s1
                                      UNION SELECT vec_id FROM s2
                                      UNION SELECT vec_id FROM s3)
               GROUP BY r.vec_id, r.rel
               ORDER BY mmr DESC, r.vec_id LIMIT 1)
        SELECT CAST(1 AS INT) AS rank, vec_id, rel AS relevance,
               mmr AS mmr_score FROM s1
        UNION ALL SELECT CAST(2 AS INT), vec_id, rel, mmr FROM s2
        UNION ALL SELECT CAST(3 AS INT), vec_id, rel, mmr FROM s3
        UNION ALL SELECT CAST(4 AS INT), vec_id, rel, mmr FROM s4
    """,
    section=SECTION,
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval: top-4 results for probe
    vec_id=0 that balance relevance against redundancy (lambda=0.7) —
    plain cosine top-k returns 4 near-copies of the same hit;
    MMR penalizes each candidate by its max similarity to what is
    already picked, the standard diversified-retrieval step in RAG
    pipelines.

    The greedy argmax recursion is bounded (k=4 over an 8-candidate
    shortlist), so it UNROLLS into pure relational algebra: shortlist
    = distributed brute-force top-8 (the _probe_topk sweep — at
    100 TB this prune is the heavy stage and stays a broadcast-probe
    scan + per-partition heap), then 4 chained argmax steps, each a
    semi-join of the 8-row shortlist against the previous picks with
    a MAX-over-selected penalty — tiny fixed-size joins, no driver
    loop, no UDF. The DuckDB oracle unrolls the identical 4 steps, so
    the greedy trajectory itself is hash-pinned, not just the final
    set. All comparisons use 6-dp-rounded scores (ties broken by
    vec_id) so argmax is stable under last-ulp float divergence."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    rel = track_persist(
        _probe_topk(e, [0], 8).select(
            "vec_id", "emb", F.col("cosine").alias("rel")
        )
    )
    ca = rel.select(F.col("vec_id").alias("va"), F.col("emb").alias("emb_a"))
    cb = rel.select(F.col("vec_id").alias("vb"), F.col("emb").alias("emb_b"))
    sims = track_persist(
        ca.join(F.broadcast(cb), F.col("va") != F.col("vb")).select(
            "va", "vb", ratio(dot(F.col("emb_a"), F.col("emb_b"))).alias("sim")
        )
    )
    relv = rel.select("vec_id", "rel")
    # Each pick below is a limit(1) subtree that every LATER step's
    # plan re-embeds (step k unions picks 1..k-1 to build its
    # exclusion set, and the final output unions all four): unpersisted
    # picks re-execute their whole upstream chain once per consumer —
    # profiled as 60 separate ~40 ms jobs, pure scheduling overhead on
    # 1-row relations (r13, guide §2.4). Persisting each 1-row pick
    # computes every greedy step exactly once.
    first = track_persist(
        relv.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "vec_id",
            F.col("rel").alias("relevance"),
            ratio(F.lit(0.7) * F.col("rel")).alias("mmr_score"),
        )
    )
    steps = [first]
    for k in (2, 3, 4):
        sel = steps[0]
        for s in steps[1:]:
            sel = sel.unionByName(s)
        sel_ids = sel.select(F.col("vec_id").alias("sid"))
        remaining = relv.join(
            sel_ids, F.col("vec_id") == F.col("sid"), "left_anti"
        )
        scored = (
            remaining.join(sims, F.col("vec_id") == F.col("va"))
            .join(sel_ids, F.col("vb") == F.col("sid"), "left_semi")
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("msim"))
            .select(
                "vec_id",
                "rel",
                ratio(
                    F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("msim")
                ).alias("mmr"),
            )
        )
        pick = track_persist(
            scored.orderBy(F.col("mmr").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(k).alias("rank"),
                "vec_id",
                F.col("rel").alias("relevance"),
                F.col("mmr").alias("mmr_score"),
            )
        )
        steps.append(pick)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


@register(
    "text_containment_prefix_join",
    # Physical rewrite of the same containment join — same oracle as
    # text_containment_dedup (the join_range_bucketed precedent:
    # bucketing/prefix-indexing changes the plan, never the answer).
    oracle="""
        WITH g AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]))) AS grams
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
                     len(a.grams), 6) AS containment,
               len(list_intersect(a.grams, b.grams)) = len(a.grams)
                   AS is_full
        FROM g a JOIN g b ON a.doc_id <> b.doc_id
        WHERE len(a.grams) > 0
          AND len(b.grams) >= CAST(ceil(0.8 * len(a.grams)) AS BIGINT)
          AND len(list_intersect(a.grams, b.grams)) * 1.0 /
              len(a.grams) >= 0.8
    """,
    section=SECTION,
)
def text_containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for containment search — and unlike the MinHash
    banding of the Jaccard composites it is EXACT-COMPLETE, no recall
    caveat: prefix filtering (the PPJoin family's pigeonhole bound,
    _prefix_candidates). Exact verify runs only on candidates, through
    the same _set_pairs sweep as the all-pairs twin; a parity pytest
    pins the prefix candidates' output identical to
    text_containment_dedup's, and the same DuckDB oracle gates both.

    Shape at 100 TB: one vocab-bounded frequency agg, one window rank
    per doc (partitioned by doc_id), one inverted-index equi-join on
    token, one candidate-bounded verify join. No all-pairs stage
    anywhere. Verification runs the dictionary-bitmask popcount
    kernel (whole-stage codegen bit ops) — the array_intersect form
    measured 25× slower on the dense fixture's ~3M candidates — with
    the size bound pushed BEFORE the candidate distinct so ineligible
    pairs never enter that shuffle.

    Cost-based: prefix filtering wins exactly when rare shingles ARE
    rare. Its candidate volume is ~0.2·Σ_t df(t)² (the
    prefix-restricted inverted-index join size), so when that estimate
    exceeds the all-pairs count n²/2 — true on this fixture's
    adversarially dense vocabulary, where the "rarest" bigram still
    has df≈n/3 and the estimate is ~20× all-pairs — the op takes the
    all-pairs sweep instead (_set_pairs without candidates), the same
    decision a set-similarity join planner makes from the same
    statistics. n is the parquet-footer doc count and Σdf² one
    scalar action over the vocab-bounded df aggregate."""
    tok, sets_fn = _bigram_sets(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()  # footer-only
    est = (
        tok.groupBy("token").count().agg(F.sum(F.col("count") * F.col("count")))
    ).collect()[0][0]  # driver-scalar: one 8-byte cost estimate
    dense = est is not None and 0.2 * est > n_docs * n_docs / 2
    cands = None if dense else _prefix_candidates(tok, sets_fn)
    return _containment_rows(
        _set_pairs(
            spark, tok, sets_fn, 0.8, metric="containment", candidates=cands
        )
    )


def _prefix_candidates(tok: DataFrame, sets_fn) -> DataFrame:
    """(doc_a, doc_b) pairs that can reach containment C(A→B) ≥ 0.8,
    by prefix filtering: at most floor(0.2|A|) of A's shingles are
    missing from B, so among A's floor(0.2|A|)+1 globally-RAREST
    shingles at least one must appear in B —
    candidates are the pairs sharing such a prefix shingle, found by
    joining A-prefixes against the full inverted index. Rare-first
    ordering makes the probed postings the SHORT ones, so candidate
    volume tracks rare-token co-occurrence, not n². ``tok``/``sets_fn``
    are a _set_binding."""
    sizes = sets_fn().filter(F.col("n") > 0).select("doc_id", "n")
    # Global shingle rarity: document frequency, ties broken by token
    # text — a vocab-bounded aggregate (same discipline as the
    # bitmask dictionary's vocab sort).
    df_ = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # df_ is vocab-bounded → broadcast stays; sizes is CORPUS-sized
    # (one row per doc) → plain join, AQE broadcasts it while small
    # (the window rank shuffles on doc_id right after anyway).
    ranked = (
        tok.join(F.broadcast(df_), "token")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "n",
            "token",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("df", "token"))
            .alias("rarity_rn"),
        )
    )
    prefix_len = (F.floor(F.lit(0.2) * F.col("n")) + 1).cast("int")
    a_prefix = ranked.filter(F.col("rarity_rn") <= prefix_len).select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "token"
    )
    b_index = tok.join(sizes, "doc_id").select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "token"
    )
    return (
        a_prefix.join(b_index, "token")
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("nb") >= F.ceil(F.lit(0.8) * F.col("na")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


@register(
    "text_doc_perplexity",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), big AS (
            SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM toks, (SELECT UNNEST(range(1, 200)) AS i)
            WHERE i < len(t)
        ), cnt AS (
            SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY w1, w2
        ), tot AS (
            SELECT w1, SUM(n12) AS n1 FROM cnt GROUP BY w1
        ), scored AS (
            SELECT b.doc_id, LN(c.n12 * 1.0 / t.n1) AS lp
            FROM big b
            JOIN cnt c ON c.w1 = b.w1 AND c.w2 = b.w2
            JOIN tot t ON t.w1 = b.w1
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(-AVG(lp), 6) AS nll,
               ROUND(EXP(-AVG(lp)), 6) AS perplexity
        FROM scored GROUP BY doc_id
    """,
    section=SECTION,
)
def text_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus's own (unsmoothed)
    bigram LM — the LM-based quality score text_bigram_lm's table
    exists to power: fluent/templated docs score low, token-salad
    scores high. No smoothing is needed because every scored bigram
    is, by construction, present in the corpus counts (the doc is in
    the corpus), so P(w2|w1) = n12/n1 > 0 always.

    Scale shape: bigram counts and left-word totals are the
    text_bigram_lm aggregation (vocab²-bounded keys, map-side combine;
    the totals derive FROM the counts so the corpus is tokenized
    once); scoring is two equi-joins of per-doc bigrams against those
    bounded tables — shuffles keyed on (w1,w2)/(w1), never all-pairs.
    The −AVG(ln p) → EXP fold matches text_unigram_surprisal's
    cross-engine float discipline (single 6-dp round at the end).
    Docs with <2 tokens have no bigrams and drop out (inner join) on
    both sides."""
    toks = F.split("text", " ")
    grams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda g: g["w2"].isNotNull(),
    )
    big = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    big = track_persist(big)  # feeds the LM aggregation AND the scoring join
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    cnt = track_persist(cnt)
    tot = cnt.groupBy("w1").agg(F.sum("n12").alias("n1"))
    lp = F.log(F.col("n12") * F.lit(1.0) / F.col("n1"))
    return (
        big.join(cnt, ["w1", "w2"])
        .join(tot, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            ratio(-F.avg(lp)).alias("nll"),
            ratio(F.exp(-F.avg(lp))).alias("perplexity"),
        )
    )


N_NEG_SAMPLES = 3
_NEG_BUCKETS = 1024
_NEG_STRIDE = 337  # coprime to 1024 → j·337 mod 1024 ≠ 0 for j in 1..3


@register(
    "sample_negative_pairs",
    oracle=f"""
        WITH hashed AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                   md5(text) AS th,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                        AS BIGINT) % {_NEG_BUCKETS} AS b
            FROM documents
        ), reps AS (
            SELECT b, arg_min(doc_id, h) AS rep_doc_id,
                   arg_min(th, h) AS rep_th
            FROM hashed GROUP BY b
        )
        SELECT d.doc_id, j.j,
               r.rep_doc_id AS neg_doc_id
        FROM hashed d
        CROSS JOIN (SELECT UNNEST(range(1, {N_NEG_SAMPLES} + 1)) AS j) j
        JOIN reps r
          ON r.b = (d.b + j.j * {_NEG_STRIDE}) % {_NEG_BUCKETS}
        WHERE r.rep_th <> d.th
    """,
    section=SECTION,
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair mining for contrastive training:
    each document draws k=3 pseudo-random partners that are (a)
    corpus-stable — md5-derived, so re-runs, engines, and partition
    layouts all agree — and (b) guaranteed non-positives (pairs whose
    full text is identical are dropped, so an exact duplicate can
    never be labelled a negative).

    Construction: docs hash into 1024 buckets; each bucket elects a
    representative (min-md5 tiebreak, collision-free on distinct ids);
    doc in bucket b partners with the representatives of buckets
    b + j·337 mod 1024 (stride coprime to 1024 ⇒ never its own bucket,
    and the three partner buckets are distinct). At 100 TB this is a
    map-side hash + ONE broadcast join against the ≤1024-row
    representative table fanned ×k — no global rank, no shuffle of the
    corpus, linear in rows. Self-pairs are impossible unless a doc IS
    its partner bucket's representative with identical text — exactly
    the accidental-positive case the text filter removes."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.md5("text").alias("th"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
            .cast("bigint") % _NEG_BUCKETS
        ).alias("b"),
    )
    reps = d.groupBy("b").agg(
        F.min_by("doc_id", "h").alias("rep_doc_id"),
        F.min_by("th", "h").alias("rep_th"),
    )
    js = spark.range(1, N_NEG_SAMPLES + 1).select(F.col("id").cast("int").alias("j"))
    fan = d.crossJoin(F.broadcast(js)).withColumn(
        "target_b", (F.col("b") + F.col("j") * _NEG_STRIDE) % _NEG_BUCKETS
    )
    return (
        fan.join(
            F.broadcast(reps.withColumnRenamed("b", "target_b")), "target_b"
        )
        .filter(F.col("rep_th") != F.col("th"))
        .select("doc_id", "j", F.col("rep_doc_id").alias("neg_doc_id"))
    )


@register(
    "embed_distance_profile",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), pairs AS (
            SELECT a.vec_id,
                   ROUND(list_dot_product(a.emb, b.emb), 6) AS cosine
            FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        )
        SELECT CAST(FLOOR((cosine + 1.0) * 10) AS INT) AS bucket,
               COUNT(*) AS n,
               ROUND(AVG(cosine), 6) AS mean_cosine
        FROM pairs GROUP BY 1
    """,
    section=SECTION,
)
def embed_distance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space sanity profile: the distribution of cosine
    similarity between id-adjacent vectors (a fixed, deterministic
    linear sample of pairs), bucketed at 0.1 width over [-1, 1]. A
    healthy random-ish corpus concentrates near 0; a spike at the top
    bucket flags near-duplicate contamination, a shifted mode flags
    normalization drift after a re-embedding — the cheap daily QA
    check run BEFORE any quadratic dedup.

    Scale shape: one self-equi-join on vec_id+1 (co-partitioned
    shuffle, linear — never the O(n²) pair sweep the dedup ops own),
    then a ≤21-bucket aggregate. Cosine is rounded to 6 dp BEFORE
    bucketing on both engines, so the bucket boundary is decided on
    identical values (the repo-wide rounding discipline)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    a = e.alias("a")
    b = e.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("emb").alias("emb_b")
    ).alias("b")
    pairs = a.join(b, "vec_id").select(
        ratio(dot(F.col("emb"), F.col("emb_b"))).alias("cosine")
    )
    return pairs.groupBy(
        F.floor((F.col("cosine") + 1.0) * 10).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        ratio(F.avg("cosine")).alias("mean_cosine"),
    )


@register(
    "text_code_detect",
    oracle="""
        WITH m AS (
            SELECT doc_id, lang, n_chars,
                   length(text)
                   - length(regexp_replace(text, '[{};()=<>\\[\\]]', '', 'g'))
                       AS n_sym,
                   length(text)
                   - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        )
        SELECT doc_id, lang, n_sym, n_digit,
               ROUND(n_sym * 1.0 / n_chars, 6) AS sym_ratio,
               ROUND(n_digit * 1.0 / n_chars, 6) AS digit_ratio,
               ROUND((n_chars - n_tokens + 1) * 1.0 / n_tokens, 6)
                   AS avg_token_len,
               50 * n_sym > n_chars OR 5 * n_digit > n_chars AS looks_like_code
        FROM m
    """,
    section=SECTION,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing heuristic — the curation gate that keeps
    source code out of (or routes it into) a text training mix:
    punctuation-symbol density, digit density, and mean token length,
    with the boolean verdict decided on CROSS-MULTIPLIED INTEGER
    counts (50·sym > chars ⇔ sym_ratio > 2%; 5·digit > chars ⇔
    digit_ratio > 20%) so no float threshold can flip between
    engines. Counts come from length-after-strip arithmetic
    (len(text) − len(regexp_replace(...))) — identical semantics in
    both engines, no per-row Python anywhere.

    Scale shape: map-only whole-stage codegen over documents; zero
    shuffles, trivially linear."""
    d = load_table(spark, sf_dir, "documents")
    n_sym = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[{};()=<>\[\]]", ""))
    )
    n_digit = F.length("text") - F.length(
        F.regexp_replace("text", "[0-9]", "")
    )
    n_tokens = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        "lang",
        n_sym.alias("n_sym"),
        n_digit.alias("n_digit"),
        ratio(n_sym * F.lit(1.0) / F.col("n_chars")).alias("sym_ratio"),
        ratio(n_digit * F.lit(1.0) / F.col("n_chars")).alias("digit_ratio"),
        ratio(
            (F.col("n_chars") - n_tokens + 1) * F.lit(1.0) / n_tokens
        ).alias("avg_token_len"),
        ((50 * n_sym > F.col("n_chars")) | (5 * n_digit > F.col("n_chars"))).alias(
            "looks_like_code"
        ),
    )


@register(
    "embed_kmeans_iterate",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), seeds AS (
            SELECT vec_id AS seed_id, emb AS semb FROM e WHERE vec_id < 8
        ), scored AS (
            SELECT e.vec_id, e.emb, s.seed_id,
                   ROUND(list_dot_product(e.emb, s.semb), 6) AS c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_dot_product(e.emb, s.semb), 6)
                                DESC, s.seed_id) AS rk
            FROM e CROSS JOIN seeds s
        ), assigned AS (
            SELECT vec_id, emb, seed_id AS cluster_id
            FROM scored WHERE rk = 1
        ), dims AS (
            SELECT cluster_id,
                   generate_subscripts(emb, 1) - 1 AS dim,
                   CAST(ROUND(unnest(emb), 6) AS DECIMAL(18,6)) AS x
            FROM assigned
        )
        SELECT cluster_id, CAST(dim AS INT) AS dim,
               COUNT(*) AS n_members,
               ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS centroid
        FROM dims GROUP BY cluster_id, dim
    """,
    section=SECTION,
)
def embed_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd (k-means) iteration, distributed — the building
    block of embedding-space clustering for data curation (domain
    buckets, IVF coarse quantizers, dedup partitions): assign every
    vector to its nearest of k=8 deterministic seed centroids (vectors
    0..7; unit-norm fixtures make cosine the distance), then recompute
    each cluster's centroid exactly. Output is the full new codebook —
    (cluster, dim) → mean — i.e. the state an iterative driver would
    feed back in; one op = one provably-correct iteration.

    Cross-engine determinism: per-seed cosines are single fixed-order
    64-term dot products (bit-identical on both engines — the
    dedup_embedding_cosine evidence), rounded to 6 dp before the
    argmax with seed_id tiebreak; centroid means use the
    embed_dim_stats discipline (round components to 6 dp, sum as
    DECIMAL — order-independent).

    Scale shape: assignment is MAP-ONLY — the 8 seeds travel as one
    1-row array-of-structs broadcast, and each row's argmax folds over
    that array in codegen (array_max over (cosine, -seed_id) structs);
    no per-vector window, no n×k shuffle. The recompute is a
    posexplode + partial-aggregated groupBy on the (8 clusters × 64
    dims) bounded key space — the shuffle carries ~512 rows per
    partition regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    seeds = (
        e.filter(F.col("vec_id") < 8)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("vec_id").alias("sid"), "emb"))
            ).alias("seed_arr")
        )
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "emb",
        F.array_max(
            F.transform(
                "seed_arr",
                lambda s: F.struct(
                    ratio(dot(F.col("emb"), s["emb"])).alias("c"),
                    (-s["sid"]).alias("nsid"),
                ),
            )
        ).alias("best"),
    )
    assigned = scored.select(
        "emb", (-F.col("best.nsid")).alias("cluster_id")
    )
    dims = assigned.select(
        "cluster_id",
        F.posexplode(F.col("emb")).alias("dim", "xd"),
    ).select("cluster_id", "dim", ratio("xd").cast("decimal(18,6)").alias("x"))
    return dims.groupBy("cluster_id", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        ratio(F.sum("x").cast("double") / F.count(F.lit(1))).alias("centroid"),
    ).select(
        "cluster_id", F.col("dim").cast("int").alias("dim"),
        "n_members", "centroid",
    )


@register(
    "embed_pq_codebook",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), cw AS (
            SELECT vec_id AS code, emb AS cemb FROM e WHERE vec_id < 4
        ), scored AS (
            SELECT e.vec_id, s.s AS subspace, cw.code,
                   ROUND(
                       list_dot_product(list_slice(e.emb, s.s*8+1, s.s*8+8),
                                        list_slice(e.emb, s.s*8+1, s.s*8+8))
                       - 2 * list_dot_product(
                             list_slice(e.emb, s.s*8+1, s.s*8+8),
                             list_slice(cw.cemb, s.s*8+1, s.s*8+8))
                       + list_dot_product(
                             list_slice(cw.cemb, s.s*8+1, s.s*8+8),
                             list_slice(cw.cemb, s.s*8+1, s.s*8+8)),
                       6) AS d2
            FROM e
            CROSS JOIN generate_series(0, 7) s(s)
            CROSS JOIN cw
        ), best AS (
            SELECT vec_id, subspace, code, d2
            FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY vec_id, subspace ORDER BY d2, code) = 1
        )
        SELECT CAST(subspace AS INT) AS subspace, code,
               COUNT(*) AS n_assigned,
               ROUND(CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_sq_err
        FROM best
        GROUP BY subspace, code
    """,
    section=SECTION,
)
def embed_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment — the vector-DB compression
    workhorse (IVF-PQ): the 64-dim embedding splits into 8 contiguous
    8-dim subspaces, each quantized independently against a 4-codeword
    codebook (deterministic seeds: vectors 0..3), giving an 8-byte
    code per vector at 32× compression; the output is the codebook
    utilization histogram — per (subspace, codeword): assignment count
    and mean squared reconstruction error, exactly the diagnostics a
    PQ trainer watches for dead or overloaded codewords.

    Cross-engine determinism: subspace distances expand to
    ‖a‖² − 2a·b + ‖b‖² over three fixed-order 8-term dot products (the
    proven bit-identical primitive — dedup_embedding_cosine), rounded
    to 6 dp before the argmin with codeword tiebreak; error means sum
    as DECIMAL. Scale shape: the codebook is a 1-row broadcast; per
    row, the 8 subspace argmins fold inside codegen (array_max over
    negated-distance structs) and explode to 8 tagged rows — map-only
    until the final (8×4)-key bounded agg."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    codebook = (
        e.filter(F.col("vec_id") < 4)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("vec_id").alias("code"), "emb"))
            ).alias("cb")
        )
    )

    def sub(arr, s):
        return F.slice(arr, s * 8 + 1, 8)

    def d2(a, b):
        return ratio(dot(a, a) - 2 * dot(a, b) + dot(b, b))

    # per subspace: struct(-d2, -code) maximized == (d2, code) minimized
    assigns = e.crossJoin(F.broadcast(codebook)).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda s: F.struct(
                    s.alias("subspace"),
                    F.array_max(
                        F.transform(
                            "cb",
                            lambda c: F.struct(
                                (-d2(sub(F.col("emb"), s), sub(c["emb"], s))).alias("nd2"),
                                (-c["code"]).alias("ncode"),
                            ),
                        )
                    ).alias("best"),
                ),
            )
        ).alias("a")
    )
    return (
        assigns.select(
            F.col("a.subspace").cast("int").alias("subspace"),
            (-F.col("a.best.ncode")).alias("code"),
            (-F.col("a.best.nd2")).cast("decimal(18,6)").alias("d2"),
        )
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            ratio(F.sum("d2").cast("double") / F.count(F.lit(1))).alias(
                "mean_sq_err"
            ),
        )
    )


_RRF_K = 20  # depth of each ranked list
_RRF_C = 60  # the standard RRF dampening constant


@register(
    "sim_hybrid_rrf",
    oracle=f"""
        WITH lex AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ('spark', 'join', 'merge'))) AS lex_score
            FROM documents
        ), lex_top AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY lex_score DESC, doc_id)
                       AS lex_rank
            FROM lex
            QUALIFY lex_rank <= {_RRF_K}
        ), e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), probe AS (SELECT emb FROM e WHERE vec_id = 0),
        vec_top AS (
            SELECT e.vec_id AS doc_id,
                   row_number() OVER (
                       ORDER BY ROUND(list_dot_product(e.emb, probe.emb), 6)
                                DESC, e.vec_id) AS vec_rank
            FROM e, probe WHERE e.vec_id <> 0
            QUALIFY vec_rank <= {_RRF_K}
        )
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               ROUND(COALESCE(1.0 / ({_RRF_C} + l.lex_rank), 0)
                     + COALESCE(1.0 / ({_RRF_C} + v.vec_rank), 0), 6)
                   AS rrf_score
        FROM lex_top l FULL OUTER JOIN vec_top v ON l.doc_id = v.doc_id
        ORDER BY rrf_score DESC, doc_id
        LIMIT 10
    """,
    section=SECTION,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via Reciprocal-Rank Fusion — the fusion rule
    hybrid retrieval stacks standardize on (score = Σ 1/(60+rank)):
    a LEXICAL leg (query-term occurrence count over document tokens)
    and a VECTOR leg (cosine against probe vector 0, over the docs
    that carry embeddings — partial embedding coverage is the normal
    production state) each produce a top-20 ranked list; RRF merges
    them rank-wise, rewarding documents both modalities surface. The
    classic win: rank fusion needs no score calibration between
    incomparable scales (term counts vs cosines).

    Scale shape: each leg is a TakeOrderedAndProject top-K over one
    corpus scan (no global sort); ranks are then assigned by a window
    over the BOUNDED K-row shortlist, the two 20-row lists full-outer
    join, and the fused top-10 is again TakeOrdered. Determinism: both
    legs tiebreak on doc id; cosines round to 6 dp before ranking."""
    d = load_table(spark, sf_dir, "documents")
    lex_score = F.size(
        F.filter(
            F.split("text", " "),
            lambda t: (t == "spark") | (t == "join") | (t == "merge"),
        )
    )
    lex_short = (
        d.select("doc_id", lex_score.alias("lex_score"))
        .orderBy(F.desc("lex_score"), "doc_id")
        .limit(_RRF_K)
    )
    # rank within the bounded K-row shortlist (window over ≤20 rows)
    w_lex = bounded_global_window(
        F.desc("lex_score"), "doc_id",
        max_rows=20, why="post-limit RRF shortlist (<= _RRF_K rows)",
    )
    lex_top = lex_short.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    vec_short = _probe_topk(e, [0], _RRF_K).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("cos")
    )
    w_vec = bounded_global_window(
        F.desc("cos"), "doc_id",
        max_rows=20, why="post-limit RRF shortlist (<= _RRF_K rows)",
    )
    vec_top = vec_short.select(
        "doc_id", F.row_number().over(w_vec).alias("vec_rank")
    )
    fused = lex_top.join(vec_top, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        ratio(
            F.coalesce(1.0 / (_RRF_C + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_C + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


@register(
    "text_kl_divergence",
    oracle="""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE source IN ('src0', 'src1')
        ), counts AS (
            SELECT tok,
                   COUNT(*) FILTER (WHERE source = 'src0') AS c0,
                   COUNT(*) FILTER (WHERE source = 'src1') AS c1
            FROM toks GROUP BY tok
        ), tot AS (
            SELECT SUM(c0) AS n0, SUM(c1) AS n1, COUNT(*) AS v
            FROM counts
        ), probs AS (
            SELECT (c0 + 1.0) / (n0 + v) AS p,
                   (c1 + 1.0) / (n1 + v) AS q,
                   c0, c1
            FROM counts, tot
        )
        SELECT (SELECT v FROM tot) AS vocab_size,
               CAST((SELECT n0 FROM tot) AS BIGINT) AS n_tokens_src0,
               CAST((SELECT n1 FROM tot) AS BIGINT) AS n_tokens_src1,
               COUNT(*) FILTER (WHERE c0 > 0 AND c1 > 0) AS vocab_shared,
               ROUND(SUM(p * ln(p / q)), 6) AS kl_src0_src1,
               ROUND(SUM(q * ln(q / p)), 6) AS kl_src1_src0
        FROM probs
    """,
    section=SECTION,
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-divergence monitor — add-one-smoothed unigram KL
    divergence between two sources, both directions: the
    domain-shift / contamination detector a data-mixture curator runs
    when deciding whether src1 still looks like src0 (KL≈0 → same
    distribution; asymmetry says which corpus has mass the other
    lacks). Laplace smoothing over the UNION vocabulary keeps every
    log finite without dropping unseen tokens.

    Determinism: the vocab-bounded Σ p·ln(p/q) is a sum of doubles
    rounded to 6 dp — the agg_entropy discipline (sum order can move
    last-ulp only, far below the rounding cut). Scale shape: one
    token explode with map-side combine onto the vocab-bounded key,
    then a 1-row totals broadcast and a vocab-keyed final sum — no
    windows, no per-doc state."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("c0"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("c1"),
    )
    tot = counts.agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.count(F.lit(1)).alias("v"),
    )
    p = (F.col("c0") + 1.0) / (F.col("n0") + F.col("v"))
    q = (F.col("c1") + 1.0) / (F.col("n1") + F.col("v"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.first("v").alias("vocab_size"),
            F.first("n0").alias("n_tokens_src0"),
            F.first("n1").alias("n_tokens_src1"),
            F.count(F.when((F.col("c0") > 0) & (F.col("c1") > 0), 1)).alias(
                "vocab_shared"
            ),
            ratio(F.sum(p * F.log(p / q))).alias("kl_src0_src1"),
            ratio(F.sum(q * F.log(q / p))).alias("kl_src1_src0"),
        )
    )


@register(
    "embed_matryoshka_recall",
    oracle="""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings),
        p AS (SELECT vec_id AS probe_id, emb AS pemb, emb[1:16] AS pemb16
              FROM e WHERE vec_id < 10),
        c AS (SELECT vec_id, emb, emb[1:16] AS emb16 FROM e WHERE vec_id >= 10),
        scored AS (
            SELECT probe_id, c.vec_id,
                   ROUND(list_dot_product(c.emb, p.pemb), 6) AS cos_f,
                   ROUND(list_dot_product(c.emb16, p.pemb16)
                         / (sqrt(list_dot_product(c.emb16, c.emb16))
                            * sqrt(list_dot_product(p.pemb16, p.pemb16))),
                         6) AS cos_t
            FROM c CROSS JOIN p
        ),
        rk AS (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cos_f DESC, vec_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cos_t DESC, vec_id) AS rt
            FROM scored
        )
        SELECT probe_id,
               CAST(COUNT(*) FILTER (WHERE rf <= 5 AND rt <= 5) AS BIGINT)
                   AS overlap_at_5,
               CAST(MAX(CASE WHEN rf = 1 THEN
                             CASE WHEN rt <= 5 THEN 1 ELSE 0 END END) AS INT)
                   AS top1_kept
        FROM rk GROUP BY probe_id ORDER BY probe_id
    """,
    section=SECTION,
)
def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality check: for each of 10 probe
    vectors, compare full-width (64-d) cosine top-5 against top-5
    under the FIRST-16-DIMS prefix (renormalized — truncated vectors
    are no longer unit-norm), reporting per-probe overlap@5 and
    whether the full-width top-1 survives. This is the measurement a
    pipeline runs before committing to truncated embeddings for a
    cheap ANN prefilter: high overlap ⇒ the prefix preserves
    neighborhood structure and the 4× narrower vectors can drive the
    candidate stage. Plan shape: 10-row probe batch broadcast against
    one corpus scan (deliberate broadcast pair scoring in the
    _probe_topk shape, kept outside that kernel because each pair
    carries two scores), both rankings computed from the SAME
    scored relation by two probe-partitioned window ranks — no join
    between the two top-5 sets, just one aggregation with rank
    predicates — so at 100 TB the cost is one corpus pass plus a
    probe-keyed shuffle of ~2k scored rows per probe. Cosines are
    6-dp rounded before ranking with a vec_id tiebreak, making both
    engines' rankings identical."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).withColumn("emb16", F.slice("emb", 1, 16))
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("pemb"),
        F.col("emb16").alias("pemb16"),
    )
    cands = e.filter(F.col("vec_id") >= 10)
    scored = cands.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        ratio(dot(F.col("emb"), F.col("pemb"))).alias("cos_f"),
        ratio(cosine_sim(F.col("emb16"), F.col("pemb16"))).alias("cos_t"),
    )
    wf = Window.partitionBy("probe_id").orderBy(F.col("cos_f").desc(), "vec_id")
    wt = Window.partitionBy("probe_id").orderBy(F.col("cos_t").desc(), "vec_id")
    rk = scored.select(
        "probe_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return (
        rk.groupBy("probe_id")
        .agg(
            F.sum(((F.col("rf") <= 5) & (F.col("rt") <= 5)).cast("bigint")).alias(
                "overlap_at_5"
            ),
            F.max(
                F.when(F.col("rf") == 1, (F.col("rt") <= 5).cast("int"))
            ).alias("top1_kept"),
        )
        .orderBy("probe_id")
    )


def _bm25_oracle() -> str:
    all_terms = sorted({t for _, ts in _SEARCH_QUERIES for t in ts})
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        f" AS df_{t}"
        for t in all_terms
    )
    scored = []
    for qname, qterms in _SEARCH_QUERIES:
        terms_sql = " + ".join(
            f"ln((n - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"
            f" * ((len(list_filter(toks, x -> x = '{t}')) * {_BM25_K1 + 1.0})"
            f" / (len(list_filter(toks, x -> x = '{t}'))"
            f" + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (dl / avgdl))))"
            for t in qterms
        )
        scored.append(
            f"SELECT '{qname}' AS query, doc_id, {terms_sql} AS s"
            " FROM d CROSS JOIN stats"
        )
    union = " UNION ALL ".join(scored)
    return f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*)
                       AS avgdl,
                   {dfs}
            FROM d
        ), scored AS ({union})
        SELECT query,
               CAST(row_number() OVER (
                   PARTITION BY query ORDER BY s DESC, doc_id) AS INT)
                   AS rank,
               doc_id,
               ROUND(s, 6) AS score
        FROM scored
        WHERE s > 0
        QUALIFY row_number() OVER (
            PARTITION BY query ORDER BY s DESC, doc_id) <= {_SEARCH_K}
    """


@register("text_search_bm25", oracle=_bm25_oracle(), section=SECTION)
def text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the same fixed query workload as
    text_search_ranked — the production search scorer (Lucene default
    k1=1.2, b=0.75): saturating term frequency (a 100th occurrence
    adds almost nothing, unlike raw tf·idf) and document-length
    normalization (a term hit in a short doc outranks the same hit in
    a long one), with the Robertson-Sparck-Jones idf
    ln((N-df+0.5)/(df+0.5)+1).

    Both ranked operators and LogDB.search_ranked run the one kernel,
    ranked_top_k; this operator only picks its BM25 scorer. N, avgdl
    and the per-term dfs come from its single stats action. Each query
    ends in a TakeOrderedAndProject, so there is no global sort.
    Determinism: idf/dl/avgdl arithmetic is written with the SAME
    parenthesization in the kernel and the oracle over bit-identical
    inputs (integer-derived doubles), and the score rounds at the
    boundary only."""
    return _ranked_workload(spark, sf_dir, "bm25")


@register(
    "embed_covariance_pairs",
    oracle="""
        WITH dims AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6)
                             AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
            FROM embeddings
        ), sums AS (
            SELECT dim, COUNT(*) AS n,
                   CAST(SUM(x6) AS DOUBLE) AS sx,
                   CAST(SUM(x6 * x6) AS DOUBLE) AS sxx
            FROM dims GROUP BY dim
        ), psums AS (
            SELECT a.dim AS di, b.dim AS dj,
                   CAST(SUM(a.x6 * b.x6) AS DOUBLE) AS sxy
            FROM dims a JOIN dims b
              ON a.vec_id = b.vec_id AND a.dim < b.dim
            GROUP BY 1, 2
        ), cov AS (
            SELECT di, dj,
                   (sa.n * sxy - sa.sx * sb.sx)
                   / (sa.n * (sa.n - 1.0)) / 1e12 AS cv,
                   (sa.n * sa.sxx - sa.sx * sa.sx)
                   / (sa.n * (sa.n - 1.0)) / 1e12 AS va,
                   (sb.n * sb.sxx - sb.sx * sb.sx)
                   / (sb.n * (sb.n - 1.0)) / 1e12 AS vb
            FROM psums JOIN sums sa ON sa.dim = di
                       JOIN sums sb ON sb.dim = dj
        )
        SELECT CAST(di AS INT) AS dim_i, CAST(dj AS INT) AS dim_j,
               ROUND(cv, 6) AS covariance,
               ROUND(cv / sqrt(va * vb), 6) AS correlation
        FROM cov
        ORDER BY abs(cv) DESC, di, dj LIMIT 20
    """,
    section=SECTION,
)
def embed_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-covarying embedding dimension pairs — the redundancy
    detector that motivates whitening/PCA before quantization: two
    dimensions that move together waste codebook bits, and the
    correlation readout says how much (the off-diagonal covariance
    matrix entries embed_dim_stats' per-dim marginals can't see).

    Scale shape: the cross-product expansion is MAP-ONLY — each row
    emits its d(d-1)/2 upper-triangle products via nested
    array-transform (no self-join, no (vec_id, dim) shuffle) — and
    partial aggregation combines them map-side to d²/2 rows per
    partition; the per-dim marginal sums come from a SEPARATE n·d
    pass (d-bounded, broadcast back into the d²-row result), so the
    hot pair kernel carries exactly one value per pair. Top-20 is
    TakeOrderedAndProject over d²/2 rows.

    Exactness at speed (r6 session-2 rewrite — 2.6x): each element
    converts ONCE to a 6-dp-exact scaled integer (decimal round →
    ×1e6 → bigint), so the 4M-row pair kernel does LONG multiplies
    inside codegen instead of per-pair decimal arithmetic; sums
    accumulate as DECIMAL(27,0) (exact to ~1e8 rows × 1e12 products —
    overflow-safe where a raw long sum is not) and the covariance
    formula runs on doubles of exact integers, descaled by 1e12 at
    the end. Identical expression order both engines."""
    # Spread the scan across cores BEFORE the d²/2-per-row pair
    # expansion (r13, guide §2.5 input skew): the fixture is one
    # parquet row group — an unsplittable single scan partition — so
    # the map-only kernel (the op's entire cost) ran as ONE 3.1 s
    # task while 31 cores idled. A round-robin repartition of the n·d
    # input rows is noise next to the n·d²/2 expansion it
    # parallelizes; on a multi-file 100 TB table the scan is already
    # split and AQE leaves this as a cheap rebalance.
    e = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    x6 = F.transform(
        "embedding",
        lambda v: (
            F.round(v.cast("double"), 6).cast("decimal(18,6)")
            * F.lit(1000000)
        ).cast("bigint"),
    )
    d_minus_1 = F.size("embedding") - 1
    # A 1-element embedding has no pairs; without the filter,
    # sequence(0, dm1 - 1) sees dm1 = 0 and Spark's step-less sequence
    # DESCENDS ([0, -1]), emitting bogus pairs. Explicit step 1 plus
    # the size guard keeps both ranges ascending and non-degenerate;
    # the marginal-sum leg below stays unfiltered (the oracle's
    # a.dim < b.dim join likewise yields no pairs for dim-1 vectors).
    pairs = (
        e.filter(F.size("embedding") >= 2)
        .select(x6.alias("xs"), d_minus_1.alias("dm1"))
        .select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(sequence(0, dm1 - 1, 1), i ->"
                        " transform(sequence(i + 1, dm1, 1), j ->"
                        " struct(i AS di, j AS dj, xs[i] * xs[j] AS xy)))"
                    )
                )
            ).alias("p")
        )
        .select("p.di", "p.dj", F.col("p.xy").cast("decimal(27,0)").alias("xy"))
    )
    psums = pairs.groupBy("di", "dj").agg(
        F.sum("xy").cast("double").alias("sxy")
    )
    dims = e.select(
        F.posexplode(x6).alias("dim", "x6")
    ).select("dim", F.col("x6").cast("decimal(27,0)").alias("x6"))
    sums = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x6").cast("double").alias("sx"),
        F.sum(F.col("x6") * F.col("x6")).cast("double").alias("sxx"),
    )
    sums = track_persist(sums)  # d rows; feeds BOTH broadcast legs
    # without re-running the n·d marginal pass
    sa = sums.select(
        F.col("dim").alias("di"), F.col("n").alias("na"),
        F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa"),
    )
    sb = sums.select(
        F.col("dim").alias("dj"),
        F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb"),
    )
    n = F.col("na")
    denom = n * (n - F.lit(1.0))
    cv = (n * F.col("sxy") - F.col("sxa") * F.col("sxb")) / denom / F.lit(1e12)
    va = (n * F.col("sxxa") - F.col("sxa") * F.col("sxa")) / denom / F.lit(1e12)
    vb = (n * F.col("sxxb") - F.col("sxb") * F.col("sxb")) / denom / F.lit(1e12)
    return (
        psums.join(F.broadcast(sa), "di")
        .join(F.broadcast(sb), "dj")
        .select(
            F.col("di").cast("int").alias("dim_i"),
            F.col("dj").cast("int").alias("dim_j"),
            cv.alias("cv"), va.alias("va"), vb.alias("vb"),
        )
        .orderBy(F.abs("cv").desc(), "dim_i", "dim_j")
        .limit(20)
        .select(
            "dim_i", "dim_j",
            ratio(F.col("cv")).alias("covariance"),
            ratio(F.col("cv") / F.sqrt(F.col("va") * F.col("vb"))).alias(
                "correlation"
            ),
        )
    )


# --------------------------------------------- subword (BPE-style) budget

# Shared DuckDB fragment: per-doc whitespace/char/subword token counts
# under the aligned two-round pair-encoding tokenizer (see
# text_bpe_tokenize). sample_pack_sequences_bpe's oracle reuses it so
# the packing oracle can never drift from the tokenizer oracle.
_BPE_DOC_SQL = """
        words AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE length(w) >= 1
        ), docw AS (
            SELECT doc_id, w, COUNT(*) AS n_w FROM words GROUP BY 1, 2
        ), wf AS (
            SELECT w, length(w) AS len, SUM(n_w) AS n FROM docw GROUP BY 1, 2
        ), m1 AS (
            SELECT substr(w, 2 * i + 1, 2) AS gram, SUM(n) AS cnt
            FROM wf, UNNEST(generate_series(0, CAST(len // 2 AS INT) - 1))
                AS t(i)
            WHERE len >= 2 GROUP BY 1
            ORDER BY cnt DESC, gram LIMIT 256
        ), m2 AS (
            SELECT substr(w, 4 * j + 1, 4) AS gram4, SUM(n) AS cnt
            FROM wf, UNNEST(generate_series(0, CAST(len // 4 AS INT) - 1))
                AS t(j)
            WHERE len >= 4 GROUP BY 1
            ORDER BY cnt DESC, gram4 LIMIT 64
        ), h1 AS (
            SELECT w, COUNT(*) AS h1
            FROM (SELECT w, substr(w, 2 * i + 1, 2) AS gram
                  FROM wf,
                       UNNEST(generate_series(0, CAST(len // 2 AS INT) - 1))
                           AS t(i)
                  WHERE len >= 2) p
            JOIN m1 USING (gram) GROUP BY w
        ), h2 AS (
            SELECT q.w, COUNT(*) AS h2
            FROM (SELECT w, substr(w, 4 * j + 1, 4) AS gram4,
                         substr(w, 4 * j + 1, 2) AS bl,
                         substr(w, 4 * j + 3, 2) AS br
                  FROM wf,
                       UNNEST(generate_series(0, CAST(len // 4 AS INT) - 1))
                           AS t(j)
                  WHERE len >= 4) q
            JOIN m2 USING (gram4)
            JOIN m1 a ON q.bl = a.gram
            JOIN m1 b ON q.br = b.gram
            GROUP BY q.w
        ), tokw AS (
            SELECT wf.w, wf.len,
                   wf.len - COALESCE(h1.h1, 0) - COALESCE(h2.h2, 0) AS tok
            FROM wf LEFT JOIN h1 ON wf.w = h1.w LEFT JOIN h2 ON wf.w = h2.w
        ), bpe_docs AS (
            SELECT d.doc_id,
                   CAST(SUM(d.n_w) AS BIGINT) AS tok_ws,
                   CAST(SUM(d.n_w * t.len) AS BIGINT) AS n_chars,
                   CAST(SUM(d.n_w * t.tok) AS BIGINT) AS tok_bpe
            FROM docw d JOIN tokw t ON d.w = t.w
            GROUP BY d.doc_id
        )
"""


def _bpe_word_freq(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(docw, wf): per-doc word counts and the corpus word-frequency
    relation the aligned pair-encoder learns from."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
    )
    docw = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("n_w"))
    wf = docw.groupBy("w").agg(F.sum("n_w").alias("n")).select(
        "w", F.length("w").alias("len"), "n"
    )
    return docw, wf


def _bpe_grams(wf: DataFrame, width: int) -> DataFrame:
    """(w, n, gram): each word's aligned width-grams (offsets ≡ 0 mod
    width), weighted by corpus occurrence count n."""
    stop = (F.floor(F.col("len") / width) - 1).cast("int")
    return (
        wf.filter(F.col("len") >= width)
        .select(
            "w", "n",
            F.explode(F.sequence(F.lit(0), stop)).alias("i"),
        )
        .select(
            "w", "n",
            F.expr(f"substr(w, {width} * i + 1, {width})").alias("gram"),
        )
    )


def _bpe_gram_counts(wf: DataFrame, width: int, top: int) -> DataFrame:
    """(gram, cnt): the learned merge table — top-``top`` aligned
    width-grams by (occurrence-weighted count DESC, gram ASC);
    orderBy+limit plans as TakeOrdered, no global sort."""
    return (
        _bpe_grams(wf, width)
        .groupBy("gram")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "gram")
        .limit(top)
    )


def bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok_ws, n_chars, tok_bpe) under the aligned two-round
    pair-encoding tokenizer. Shared by text_bpe_tokenize and
    sample_pack_sequences_bpe — one definition, two consumers, one
    oracle fragment (_BPE_DOC_SQL)."""
    docw, wf = _bpe_word_freq(spark, sf_dir)
    wf = track_persist(wf)  # vocab-sized; feeds 4 downstream reads

    def grams(width: int):
        return _bpe_grams(wf, width)

    m1 = _bpe_gram_counts(wf, 2, 256).select("gram")
    m2 = _bpe_gram_counts(wf, 4, 64).select(F.col("gram").alias("gram4"))
    h1 = (
        grams(2)
        .join(F.broadcast(m1), "gram")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("h1"))
    )
    quads = wf.filter(F.col("len") >= 4).select(
        "w",
        F.explode(
            F.sequence(F.lit(0), (F.floor(F.col("len") / 4) - 1).cast("int"))
        ).alias("j"),
    ).select(
        "w",
        F.expr("substr(w, 4 * j + 1, 4)").alias("gram4"),
        F.expr("substr(w, 4 * j + 1, 2)").alias("bl"),
        F.expr("substr(w, 4 * j + 3, 2)").alias("br"),
    )
    h2 = (
        quads.join(F.broadcast(m2), "gram4")
        .join(F.broadcast(m1.select(F.col("gram").alias("bl"))), "bl")
        .join(F.broadcast(m1.select(F.col("gram").alias("br"))), "br")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("h2"))
    )
    tokw = (
        wf.join(h1, "w", "left")
        .join(h2, "w", "left")
        .select(
            "w", "len",
            (
                F.col("len")
                - F.coalesce(F.col("h1"), F.lit(0))
                - F.coalesce(F.col("h2"), F.lit(0))
            ).alias("tok"),
        )
    )
    return (
        docw.join(tokw, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_w").cast("bigint").alias("tok_ws"),
            F.sum(F.col("n_w") * F.col("len")).cast("bigint").alias("n_chars"),
            F.sum(F.col("n_w") * F.col("tok")).cast("bigint").alias("tok_bpe"),
        )
    )


@register(
    "text_bpe_tokenize",
    oracle="WITH " + _BPE_DOC_SQL + """
        SELECT doc_id, tok_ws, n_chars, tok_bpe,
               ROUND(tok_bpe * 1.0 / n_chars, 6) AS bpe_per_char
        FROM bpe_docs
    """,
    section=SECTION,
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE-style subword token counts (r10, VERDICT r9
    item #4 — whitespace counts under-budget real packing). The
    tokenizer is ALIGNED two-round pair encoding: a merge table is
    LEARNED from corpus statistics (top-256 aligned character bigrams,
    then top-64 aligned 4-grams, ranked by occurrence-weighted count
    with lexicographic tie-break), and a word of length L tokenizes to
    L − |round-1 merges| − |round-2 merges|, where a round-1 merge
    fires at even offsets whose bigram is in the table, and a round-2
    merge additionally requires both constituent bigrams to have
    merged. Alignment to fixed offsets is what replaces BPE's
    inherently sequential leftmost-greedy scan with positional algebra
    BOTH engines evaluate identically — the honest determinism
    trade-off, stated rather than hidden (a production tokenizer would
    load a frozen merges file; the LEARNED-from-corpus table is what
    this operator pins). Invariant by construction (pytest-pinned):
    tok_ws <= tok_bpe <= n_chars per document.

    Scale: word explode → (doc, word) partial agg → vocab-sized
    frequency relation; gram learning and application all run over the
    VOCABULARY (sublinear in corpus), with the ≤256/64-row merge
    tables broadcast; per-doc totals re-join the (doc, word) counts —
    the raw token stream shuffles once, like every §2.K text op."""
    b = bpe_doc_tokens(spark, sf_dir)
    return b.select(
        "doc_id", "tok_ws", "n_chars", "tok_bpe",
        ratio(F.col("tok_bpe") / F.col("n_chars")).alias("bpe_per_char"),
    )


@register(
    "text_bpe_vocab",
    # Same m1/m2 CTEs as the tokenizer (fragment imported, rank added)
    # — the vocab op IS the tokenizer's learned state, exported.
    oracle="WITH " + _BPE_DOC_SQL + """
        SELECT CAST(1 AS INT) AS level,
               row_number() OVER (ORDER BY cnt DESC, gram) AS merge_rank,
               gram, CAST(cnt AS BIGINT) AS cnt
        FROM m1
        UNION ALL
        SELECT CAST(2 AS INT),
               row_number() OVER (ORDER BY cnt DESC, gram4),
               gram4, CAST(cnt AS BIGINT)
        FROM m2
    """,
    section=SECTION,
)
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge tables of text_bpe_tokenize, exported as rows
    (r10): level 1 = the top-256 aligned character bigrams, level 2 =
    the top-64 aligned 4-grams, each with its merge rank and
    occurrence-weighted count. A production pipeline PERSISTS this
    artifact — it is what makes tokenization reproducible across jobs
    (freeze the merges, re-tokenize any shard identically) and
    auditable (inspect what the corpus taught the tokenizer). Sharing
    the learning CTEs with the tokenizer oracle pins that the exported
    table is byte-identical to the one the tokenizer applies.

    Scale: the vocabulary-sized gram aggregation + two TakeOrdered
    top-k cuts; the ranked output is 320 rows total — window over the
    post-limit relation only."""
    _, wf = _bpe_word_freq(spark, sf_dir)
    wf = track_persist(wf)  # both merge levels read it

    def ranked(width: int, top: int, level: int) -> DataFrame:
        w = bounded_global_window(
            F.col("cnt").desc(), "gram",
            max_rows=top, why="post-limit merge table (<=256 rows)",
        )
        return _bpe_gram_counts(wf, width, top).select(
            F.lit(level).cast("int").alias("level"),
            F.row_number().over(w).cast("bigint").alias("merge_rank"),
            "gram",
            F.col("cnt").cast("bigint").alias("cnt"),
        )

    return ranked(2, 256, 1).unionByName(ranked(4, 64, 2))
