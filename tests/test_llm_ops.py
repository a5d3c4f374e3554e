"""§2.K scalable-path guarantees that the SQL oracles cannot express:
LSH recall vs exact ground truth, sketch determinism, stub plumbing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logdb_spark.operators.llm import (
    dedup_embedding_cosine,
    dedup_embedding_cosine_lsh,
    dedup_minhash_lsh,
    dedup_near_jaccard,
    dedup_simhash,
    sim_ann_ivf,
    sim_ann_lsh,
    sim_topk_cosine,
)
from logdb_spark.operators.multimodal import mm_feature_extract
from tests.conftest import SF_SMALL


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_minhash_lsh_recall(spark):
    """LSH candidates must recover ≥95% of true Jaccard≥0.9 pairs
    (SURVEY.md §5.3) — and, because candidates are exact-verified,
    precision is 1.0 by construction."""
    truth = _pairs(dedup_near_jaccard(spark, SF_SMALL))
    found = _pairs(dedup_minhash_lsh(spark, SF_SMALL))
    assert found <= truth  # exact verify ⇒ no false positives
    recall = len(found & truth) / max(1, len(truth))
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95 ({len(truth)} true)"


def test_cluster_assign_lsh_matches_exact(spark, monkeypatch):
    """VERDICT r4 #1: the dedup composites consume LSH candidate pairs
    past _LSH_CROSSOVER_DOCS — this pins LSH-fed connected components ≡
    exact-fed at fixture scale (an intra-clique edge the banding drops
    cannot change components while the clique stays connected;
    re-verified at sf0.01 and sf0.1 during the r5 rewire). The fixture
    takes the exact branch by size; patching the crossover to 0 forces
    the LSH branch. The DuckDB oracle independently pins the exact
    ground-truth components each round."""
    from logdb_spark.operators import llm
    from logdb_spark.operators.llm import dedup_cluster_assign

    exact = dedup_cluster_assign(spark, SF_SMALL).orderBy("doc_id").collect()
    monkeypatch.setattr(llm, "_LSH_CROSSOVER_DOCS", 0)
    lsh = dedup_cluster_assign(spark, SF_SMALL).orderBy("doc_id").collect()
    assert exact == lsh


def test_dup_pairs_auto_lsh_above_crossover(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): the sub-crossover parity test above takes
    the exact branch by fixture size, so the size-driven switch to lsh
    the composites rely on at scale was never exercised end-to-end.
    Build a corpus that genuinely exceeds _LSH_CROSSOVER_DOCS — the
    500 fixture docs plus ~8.3k filler docs
    over a DISJOINT 40-token vocabulary, every filler exactly 10
    distinct tokens, so (a) filler×original Jaccard is 0, (b) a
    filler×filler pair can reach J≥0.9 only as an identical token set
    (|A|=|B|=10 ⇒ J≥0.9 ⇒ |A∩B|≥9.47 ⇒ A=B), which LSH admits
    deterministically (equal signatures agree in every band), and (c)
    the combined 71-token vocabulary keeps the exact side on the
    bitmask kernel. Parity of the size-picked lsh branch vs the exact
    branch (forced by patching the crossover above n) is then a real
    certificate for the branch every at-scale corpus takes; hashing is
    seed-fixed, so this pins forever."""
    import random

    from logdb_spark.operators import llm
    from logdb_spark.operators.llm import (
        _LSH_CROSSOVER_DOCS,
        dedup_cluster_assign,
    )

    n_fill = _LSH_CROSSOVER_DOCS - 500 + 128
    vocab = [f"fillertok{i:02d}" for i in range(40)]
    rng = random.Random(61)
    rows = [
        (100_000 + i, " ".join(rng.sample(vocab, 10)), "en", "filler", 0)
        for i in range(n_fill)
    ]
    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    filler = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    big_dir = str(tmp_path / "supra")
    base.unionByName(filler).repartition(8).write.parquet(
        f"{big_dir}/documents.parquet"
    )
    n_docs = spark.read.parquet(f"{big_dir}/documents.parquet").count()
    assert n_docs > _LSH_CROSSOVER_DOCS  # the size rule genuinely picks lsh
    lsh = dedup_cluster_assign(spark, big_dir).orderBy("doc_id").collect()
    monkeypatch.setattr(llm, "_LSH_CROSSOVER_DOCS", n_docs)
    exact = dedup_cluster_assign(spark, big_dir).orderBy("doc_id").collect()
    assert lsh == exact


def test_lsh_planted_pairs_recall_above_crossover(spark, tmp_path):
    """VERDICT r6 item #5 (closed r8): the composite LSH path's recall
    proven against an ADVERSARIAL corpus instead of fixture luck.

    4,300 planted near-dup pairs (8,600 docs > _LSH_CROSSOVER_DOCS, so
    _dup_pairs genuinely takes the lsh branch) where each pair
    is an ISOLATED 2-clique — the worst case for banding, because a
    clique of size ≥3 survives a dropped edge but a pair doesn't. Each
    pair draws 21 tokens from its own disjoint vocabulary: doc A =
    tokens 0..19, doc B = tokens 0..18 + token 20, so within-pair
    J = 19/21 ≈ 0.905 (just above the 0.9 threshold — the hardest
    admissible pair) and cross-pair J = 0. Ground truth is therefore
    exactly the planted set. The 128-perm/16-band composite banding
    admits a J=0.905 pair with p ≈ 1 − (1−0.905⁸)¹⁶ ≈ 0.99993;
    requiring recall ≥ 1−1e-3 allows ≤4 of 4,300 to miss. Hashing is
    md5-derived and seed-free, so the outcome is pinned forever —
    this is a certificate, not a coin flip. Precision is 1.0 by
    construction (exact verify)."""
    from logdb_spark.operators.llm import _LSH_CROSSOVER_DOCS, _dup_pairs

    n_pairs = 4_300
    rows = []
    for i in range(n_pairs):
        toks = [f"p{i}_t{j}" for j in range(21)]
        a, b = 2 * i, 2 * i + 1
        rows.append((a, " ".join(toks[:20]), "en", "plant", 0))
        rows.append((b, " ".join(toks[:19] + [toks[20]]), "en", "plant", 0))
    corpus = str(tmp_path / "planted")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).repartition(16).write.parquet(f"{corpus}/documents.parquet")
    assert 2 * n_pairs > _LSH_CROSSOVER_DOCS  # the size rule picks lsh

    found = _pairs(_dup_pairs(spark, corpus))
    planted = {(2 * i, 2 * i + 1) for i in range(n_pairs)}
    assert found <= planted, f"false positives: {sorted(found - planted)[:5]}"
    recall = len(found) / n_pairs
    assert recall >= 1 - 1e-3, (
        f"planted-pair recall {recall:.5f} < 0.999 "
        f"({n_pairs - len(found)} of {n_pairs} lost)"
    )


def test_embedding_lsh_recall(spark):
    """The bucketed embedding pair-dedup must recover ≥95% of the exact
    twin's cosine≥0.4 pairs (VERDICT r2 #5 — removes the all-pairs
    broadcast from the scale story). Measured 0.98 at both fixture
    scales with 16×3-bit tables. Candidates are exact-verified, so no
    false positives by construction."""
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, SF_SMALL).collect()
    }
    found = {
        (r["vec_a"], r["vec_b"])
        # explicit 16×3: the fixture's "dups" sit at cos 0.4-0.51, the
        # low-sim regime only the fixture-floor constants cover (the
        # registered face pins the same; the adaptive default targets
        # near-dups and is recall-tested on the planted corpus below)
        for r in dedup_embedding_cosine_lsh(
            spark, SF_SMALL, tables=16, planes=3
        ).collect()
    }
    assert found <= truth  # exact verify ⇒ no false positives
    recall = len(found & truth) / max(1, len(truth))
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 ({len(truth)} true)"


def test_simhash_deterministic_and_bounded(spark):
    a = dedup_simhash(spark, SF_SMALL)
    b = dedup_simhash(spark, SF_SMALL)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb  # deterministic across runs
    assert all(r[2] <= 3 for r in ra)  # hamming bound respected


def test_ann_lsh_recall_vs_bruteforce(spark):
    exact = [r["vec_id"] for r in sim_topk_cosine(spark, SF_SMALL).collect()]
    approx = [r["vec_id"] for r in sim_ann_lsh(spark, SF_SMALL).collect()]
    # 16 tables × 4-bit signatures on isotropic unit vectors: measured
    # 9/10 at sf0.001 and 7/10 at sf0.01 — floor at 5.
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"ANN recall@10 too low: {overlap}/10"


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF with k-means-learned centroids and nprobe=6/16: measured
    recall@10 is 10/10 at sf0.001 AND sf0.01 (was 5-6/10 with r1's
    fixed random centroids) — floor at 7. Candidates are exact-scored,
    so every returned neighbor's cosine is exact."""
    exact = [r["vec_id"] for r in sim_topk_cosine(spark, SF_SMALL).collect()]
    approx = [r["vec_id"] for r in sim_ann_ivf(spark, SF_SMALL).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 7, f"IVF recall@10 too low: {overlap}/10"


def test_mm_feature_extract_shape_and_determinism(spark):
    df = mm_feature_extract(spark, SF_SMALL)
    feat_cols = [f"f{i}" for i in range(8)]
    assert [c for c in df.columns if c.startswith("f")] == feat_cols
    rows = df.orderBy("doc_id").limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["f0"] == float(r["n_bytes"])  # stub invariant
        assert r["f3"] <= r["f4"]  # min byte <= max byte
        assert r["f7"] in (0.0, 1.0)
    again = mm_feature_extract(spark, SF_SMALL).orderBy("doc_id").limit(5).collect()
    assert [[r[c] for c in feat_cols] for r in rows] == [
        [r[c] for c in feat_cols] for r in again
    ]


def test_multipart_assembly_detects_corruption(spark):
    """ADVICE r4: the oracle's `intact` column is a tautology (it can
    only pin intact through assembled_sha), so pin the column's LOGIC
    here: (a) every fixture payload reassembles intact; (b) dropping a
    part or swapping two parts' contents changes the assembled sha and
    flips intact to False — the checksum actually catches wire damage."""
    import pyspark.sql.functions as F

    from logdb_spark.operators.multimodal import mm_multipart_assembly

    out = mm_multipart_assembly(spark, SF_SMALL)
    assert out.filter(~F.col("intact")).count() == 0

    # Rebuild the op's part relation, corrupt it two ways, and push it
    # through the same sort_array(collect_list)+concat+sha tail.
    from logdb_spark.sources.load import load_table

    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    n_parts = 3
    plen = F.ceil(F.length("text") / n_parts).cast("int")
    parts = docs.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("src_sha"),
        F.explode(F.sequence(F.lit(0), F.lit(n_parts - 1))).alias("part_idx"),
        F.substring(
            "text", F.col("part_idx") * plen + 1, plen
        ).alias("part_bytes"),
    )

    def reassembled_intact(parts_df):
        return (
            parts_df.groupBy("doc_id", "src_sha")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("part_idx", "part_bytes"))
                ).alias("ordered")
            )
            .select(
                "doc_id",
                (
                    F.sha2(
                        F.array_join(
                            F.transform("ordered", lambda s: s.part_bytes), ""
                        ).cast("binary"),
                        256,
                    )
                    == F.col("src_sha")
                ).alias("intact"),
            )
        )

    dropped = parts.filter(F.col("part_idx") != 1)
    swapped = parts.withColumn(
        "part_idx",
        F.when(F.col("part_idx") == 0, 1)
        .when(F.col("part_idx") == 1, 0)
        .otherwise(F.col("part_idx")),
    )
    # Non-degenerate payloads (parts differ, middle part non-empty)
    # must all fail the checksum; intact rows would mean the sha
    # missed real corruption.
    assert reassembled_intact(dropped).filter(F.col("intact")).count() == 0
    n_swap_intact = (
        reassembled_intact(swapped).filter(F.col("intact")).count()
    )
    # swapping identical parts is a no-op; fixture texts make that
    # vanishingly rare — allow a couple of degenerate collisions.
    assert n_swap_intact <= 2, f"{n_swap_intact} swapped payloads passed"


def test_cluster_finisher_driver_matches_loop(spark):
    """r5: dedup_cluster_assign finishes connected components on the
    driver (bounded union-find) below _CC_DRIVER_MAX_EDGES and with
    the distributed HashToMin loop above it — both paths must label
    identically. Forcing the bound to 0 exercises the loop on the
    same input."""
    import logdb_spark.operators.llm as llm
    from logdb_spark.operators.llm import dedup_cluster_assign

    fast = dedup_cluster_assign(spark, SF_SMALL).orderBy("doc_id").collect()
    saved = llm._CC_DRIVER_MAX_EDGES
    try:
        llm._CC_DRIVER_MAX_EDGES = 0
        loop = (
            dedup_cluster_assign(spark, SF_SMALL).orderBy("doc_id").collect()
        )
    finally:
        llm._CC_DRIVER_MAX_EDGES = saved
    assert fast == loop


def test_containment_prefix_join_matches_allpairs(spark):
    """text_containment_prefix_join is a physical rewrite (PPJoin-style
    prefix filtering) of text_containment_dedup's all-pairs kernel —
    the pigeonhole prefix bound is exact-COMPLETE, so the outputs must
    be identical, not merely high-recall."""
    from logdb_spark.operators.llm import (
        _bigram_sets,
        _containment_rows,
        _prefix_candidates,
        _set_pairs,
        text_containment_dedup,
        text_containment_prefix_join,
    )

    allpairs = sorted(
        tuple(r) for r in text_containment_dedup(spark, SF_SMALL).collect()
    )
    # The op's cost model routes this adversarially dense fixture to
    # the all-pairs sweep, and the parity claim is about the prefix
    # PLAN, so run its candidates through _set_pairs explicitly.
    tok, sets_fn = _bigram_sets(spark, SF_SMALL)
    prefix = _containment_rows(
        _set_pairs(
            spark, tok, sets_fn, 0.8, metric="containment",
            candidates=_prefix_candidates(tok, sets_fn),
        )
    )
    assert allpairs == sorted(tuple(r) for r in prefix.collect())
    assert sorted(
        tuple(r) for r in text_containment_prefix_join(spark, SF_SMALL).collect()
    ) == allpairs


def _plan_text(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_set_pairs_every_branch_matches_reference(spark, monkeypatch):
    """_set_pairs picks its kernel from the input, and the fixture only
    reaches some branches (31 words, 961 bigrams). Over a generated
    corpus with planted near-duplicates (one token swapped) and
    excerpts (~15% of tokens dropped), run every branch for both
    metrics — the nested-loop bitmask kernel (≤128 tokens), the tiled
    gemm (wider masks), open vocabulary (_BITMASK_MAX_VOCAB patched
    below the vocabulary) and candidates (with the Jaccard fold screen
    over wide masks) — and compare each with a pure-Python reference
    over the same token sets."""
    import random

    from logdb_spark.operators import llm
    from logdb_spark.operators.llm import _TOKENS, _set_binding, _set_pairs

    rng = random.Random(7)

    def corpus(n_vocab):
        vocab = [f"w{i:03d}" for i in range(n_vocab)]
        sets = []
        for _ in range(50):
            base = rng.sample(vocab, rng.randint(10, 25))
            swapped = base[1:] + [rng.choice([t for t in vocab if t not in base])]
            excerpt = base[: len(base) - max(1, len(base) * 15 // 100)]
            sets += [base, swapped, excerpt]
        sets += [rng.sample(vocab, rng.randint(5, 25)) for _ in range(20)]
        ids = rng.sample(range(10, 10_000), len(sets))
        return {i: set(s) for i, s in zip(ids, sets)}

    def reference(sets, metric, t, pairs):
        out = set()
        for a, b in pairs:
            ns = len(sets[a] & sets[b])
            den = len(sets[a]) if metric == "containment" else len(sets[a] | sets[b])
            if ns / den >= t:
                out.add((a, b, ns / den))
        return out

    def cand_rule(a, b):
        return a != b and (7 * a + b) % 3 != 0

    narrow, wide = corpus(100), corpus(300)
    for sets, cases in (
        (narrow, [("nested", None), ("open", None), ("open", "cands")]),
        (wide, [("tiled", None), ("bitmask", "cands")]),
    ):
        d = spark.createDataFrame(
            [(i, " ".join(sorted(s))) for i, s in sets.items()],
            "doc_id bigint, text string",
        )
        tok, sets_fn = _set_binding(d, _TOKENS)
        ids = d.select("doc_id")
        cands = (
            ids.alias("x")
            .crossJoin(ids.alias("y"))
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .filter(
                (F.col("doc_a") != F.col("doc_b"))
                & ((7 * F.col("doc_a") + F.col("doc_b")) % 3 != 0)
            )
        )
        for branch, with_cands in cases:
            if branch == "open":
                monkeypatch.setattr(llm, "_BITMASK_MAX_VOCAB", 50)
            for metric, t in (("jaccard", 0.6), ("containment", 0.8)):
                if with_cands:
                    pairs = [(a, b) for a in sets for b in sets if cand_rule(a, b)]
                elif metric == "jaccard":
                    pairs = [(a, b) for a in sets for b in sets if a < b]
                else:
                    pairs = [(a, b) for a in sets for b in sets if a != b]
                df = _set_pairs(
                    spark, tok, sets_fn, t, metric=metric,
                    candidates=cands if with_cands else None,
                )
                plan = _plan_text(df)
                if branch == "nested":
                    assert "BroadcastNestedLoopJoin" in plan
                    assert "MapInPandas" not in plan
                elif branch == "tiled":
                    assert "MapInPandas" in plan
                elif branch == "open":
                    assert "array_intersect" in plan
                else:
                    assert ("fold0" in plan) == (metric == "jaccard")
                got = {(r[0], r[1], r[2]) for r in df.collect()}
                want = reference(sets, metric, t, pairs)
                assert len(want) >= 50, (branch, metric, len(want))
                assert got == want, (branch, metric, with_cands)
            monkeypatch.undo()


def test_vec_and_band_kernels_every_branch_match_reference(spark):
    """The three similarity kernels over generated inputs, each branch
    against a pure-Python reference. The unit-vector corpus plants
    6-dp cosine ties next to every probe (an exact copy and a 1e-12
    perturbation of one near neighbour), and k cuts through a tie
    group, so the vec_id tiebreak decides membership. _probe_topk runs
    with one probe (TakeOrderedAndProject) and a probe batch (Window),
    each with and without a candidate predicate; _vec_pairs with and
    without candidates; _band_join in all three orientations, with a
    size bound that prunes."""
    import operator
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from logdb_spark.operators.llm import _band_join, _probe_topk, _vec_pairs

    rng = random.Random(11)

    def unit(v):
        s = sum(x * x for x in v) ** 0.5
        return [x / s for x in v]

    def dot(a, b):  # the JVM fold's order: acc + x*y, left to right
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def r6(x):  # Spark round(x, 6): HALF_UP on the double's decimal string
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    dims = 16
    vecs = [unit([rng.gauss(0, 1) for _ in range(dims)]) for _ in range(120)]
    probes_at = [0, 1, 2, 3]
    for i in probes_at:
        near = unit([b + 0.5 * rng.gauss(0, 1) / dims**0.5 for b in vecs[i]])
        vecs += [near, list(near), [x + 1e-12 * rng.gauss(0, 1) for x in near]]
    # A pair at dot 0.4 − 2e-7: rounds to 0.4, so only a threshold on
    # the UNROUNDED dot keeps it out of _vec_pairs.
    base = vecs[5]
    o = [rng.gauss(0, 1) for _ in range(dims)]
    o = unit([x - dot(o, base) * b for x, b in zip(o, base)])
    c = 0.4 - 2e-7
    vecs.append([c * b + (1 - c * c) ** 0.5 * x for b, x in zip(base, o)])
    ids = rng.sample(range(10, 10_000), len(vecs))
    emb = dict(zip(ids, vecs))
    assert r6(dot(emb[ids[5]], emb[ids[-1]])) == 0.4 > dot(emb[ids[5]], emb[ids[-1]])
    probe_ids = [ids[i] for i in probes_at]
    # Candidate-predicate group: random, except 0 on the probes and the
    # planted rows, which (0 + 0) % 3 != 1 keeps next to every probe.
    gid = {
        v: 0 if i in probes_at or i >= 120 else rng.randint(0, 4)
        for i, v in enumerate(ids)
    }
    rows = [(i, emb[i], gid[i]) for i in ids]
    rng.shuffle(rows)
    e = spark.createDataFrame(rows, "vec_id bigint, emb array<double>, g int")

    def ranked(p, keep):
        return sorted(
            ((r6(dot(emb[v], emb[p])), v) for v in ids if v != p and keep(v, p)),
            key=lambda sv: (-sv[0], sv[1]),
        )

    def cut_through_tie(p, keep):
        scores = [s for s, _ in ranked(p, keep)]
        k = next(j + 1 for j in range(len(scores) - 1) if scores[j] == scores[j + 1])
        assert k <= 3, k  # the planted tie sits at the top
        return k

    def everything(v, p):
        return True

    def grp(v, p):
        return (gid[v] + gid[p]) % 3 != 1

    grp_col = (F.col("c.g") + F.col("p.g")) % 3 != 1
    for keep, pred in ((everything, None), (grp, grp_col)):
        p0 = probe_ids[0]
        k = cut_through_tie(p0, keep)
        df = _probe_topk(e, [p0], k, pred)
        assert "TakeOrderedAndProject" in _plan_text(df)
        got = [(r["cosine"], r["vec_id"]) for r in df.collect()]
        assert got == ranked(p0, keep)[:k], pred
        k = max(cut_through_tie(p, keep) for p in probe_ids)
        df = _probe_topk(e, probe_ids, k, pred)
        plan = _plan_text(df)
        assert "Window" in plan and "TakeOrderedAndProject" not in plan
        got = {(r["probe_id"], r["vec_id"], r["cosine"]) for r in df.collect()}
        want = {(p, v, s) for p in probe_ids for s, v in ranked(p, keep)[:k]}
        assert got == want, pred

    t = 0.4
    all_pairs = [(a, b) for a in ids for b in ids if a < b]
    cand_pairs = [(a, b) for a, b in all_pairs if (7 * a + b) % 3 != 0]
    cands = spark.createDataFrame(cand_pairs, "vec_a bigint, vec_b bigint")
    for pairs, cand in ((all_pairs, None), (cand_pairs, cands)):
        df = _vec_pairs(spark, e, t, candidates=cand)
        assert ("BroadcastNestedLoopJoin" in _plan_text(df)) == (cand is None)
        got = {(r["vec_a"], r["vec_b"], r["cosine"]) for r in df.collect()}
        want = {
            (a, b, r6(dot(emb[a], emb[b])))
            for a, b in pairs
            if dot(emb[a], emb[b]) >= t
        }
        assert len(want) >= 50 and got == want, cand is None

    bands = [
        (d, rng.randint(5, 30), band, rng.randint(0, 5))
        for d in rng.sample(range(1, 1_000), 60)
        for band in range(4)
    ]
    schema = "doc_id bigint, n bigint, band int, bucket int"
    for orient, left, right in (
        (operator.lt, bands, bands),
        (operator.ne, bands, [b for b in bands if b[0] % 3 == 0]),
        (None, [b for b in bands if b[0] % 2], [b for b in bands if not b[0] % 2]),
    ):
        df = _band_join(
            spark.createDataFrame(left, schema),
            F.broadcast(spark.createDataFrame(right, schema)),
            0.7,
            orient,
        ).select("l.doc_id", "r.doc_id", "l.band")
        got = sorted(tuple(r) for r in df.collect())
        same_bucket = [
            (x, y)
            for x in left
            for y in right
            if x[2:] == y[2:] and (orient is None or orient(x[0], y[0]))
        ]
        want = sorted(
            (x[0], y[0], x[2])
            for x, y in same_bucket
            if min(x[1], y[1]) >= max(x[1], y[1]) * 0.7
        )
        assert 0 < len(want) < len(same_bucket), orient  # the bound prunes
        assert got == want, orient


def test_incremental_minhash_matches_batch_restriction(spark):
    """dedup_incremental_minhash must equal the FULL dedup pipeline's
    ground truth restricted to pairs touching the new batch: same md5
    family, so every batch-touching true pair the full banding admits
    is admitted here too, and exact verify keeps precision 1.0. Also
    pins the pair_type labels."""
    from logdb_spark.operators.llm import dedup_incremental_minhash

    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_near_jaccard(spark, SF_SMALL).collect()
        if r["doc_a"] % 10 == 0 or r["doc_b"] % 10 == 0
    }
    rows = dedup_incremental_minhash(spark, SF_SMALL).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert found <= truth  # exact verify ⇒ no false positives
    recall = len(found & truth) / max(1, len(truth))
    assert recall >= 0.95, f"incremental recall {recall:.3f} < 0.95"
    for r in rows:
        is_nn = r["doc_a"] % 10 == 0 and r["doc_b"] % 10 == 0
        assert r["pair_type"] == ("new_new" if is_nn else "new_old")
        assert r["doc_a"] % 10 == 0 or r["doc_b"] % 10 == 0


def test_fuzzy_decontaminate_sides_and_completeness(spark):
    """text_fuzzy_decontaminate's contract: every flagged pair is
    (training doc, eval doc) with verified J≥0.9, and the flag set
    equals the ground-truth near-dup pairs that straddle the
    eval/train boundary (computed from the exact pipeline)."""
    from logdb_spark.operators.llm import text_fuzzy_decontaminate
    from logdb_spark.registry import all_operators

    src = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    rows = text_fuzzy_decontaminate(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert src[r["doc_id"]] != "src0"  # training side
        assert src[r["eval_doc_id"]] == "src0"  # eval side
        assert r["jaccard"] >= 0.9
    # completeness vs exact ground truth restricted to the boundary
    truth = {
        (a, b) if src[b] == "src0" else (b, a)
        for a, b in _pairs(dedup_near_jaccard(spark, SF_SMALL))
        if (src[a] == "src0") != (src[b] == "src0")
    }  # (train, eval) orientation
    got = {(r["doc_id"], r["eval_doc_id"]) for r in rows}
    assert got <= truth
    assert len(got) / max(1, len(truth)) >= 0.95


def test_embedding_lsh_blocking_params_sound_and_selective(spark):
    """r10: dedup_embedding_cosine_lsh takes corpus-tuned blocking
    constants (tables=, planes=). Soundness must be configuration-
    independent — every pair ANY configuration emits passed the exact
    dot≥0.4 rescore, so it must appear in the exact twin's output.
    Selectivity must actually respond to the constants: 12-bit tables
    admit a random pair with prob ~8/4096, so on the fixture (dups at
    cos 0.4-0.51, i.e. BELOW the high-sim regime 8x12 targets) the
    8x12 candidate set — and hence output — must be a strict subset of
    the 16x3 fixture-floor output. scalebench measured the scale side:
    16x3 is quadratic on diffuse corpora (DNF at 20k vectors), 8x12 is
    flat at 10x (SCALING.md r10)."""
    from logdb_spark.operators.llm import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_lsh,
    )

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, SF_SMALL).collect()
    }
    fixture = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine_lsh(
            spark, SF_SMALL, tables=16, planes=3
        ).collect()
    }
    tuned = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine_lsh(
            spark, SF_SMALL, tables=8, planes=12
        ).collect()
    }
    assert fixture <= exact
    assert tuned <= exact
    assert tuned < fixture, (
        "8x12 must be strictly more selective than 16x3 on the "
        f"fixture: {len(tuned)} vs {len(fixture)}"
    )


def test_adaptive_pair_config_rule():
    """r11 (VERDICT r10 task #2): the no-config default derives
    blocking constants from the corpus count. Pin the rule's
    guarantees analytically: per-table random admission ≈ 2^-p tracks
    1/n (never the quadratic fixture floor), analytic near-dup recall
    1-(1-q^p)^T stays ≥ 0.95, and planes never shrink as n grows."""
    from logdb_spark.operators.llm import (
        _NEAR_DUP_BIT_AGREEMENT as q,
        _adaptive_pair_config,
    )

    prev_p = 0
    for n in (100, 1_000, 2_000, 20_000, 1_000_000, 10**9):
        t, p = _adaptive_pair_config(n)
        assert p >= prev_p
        prev_p = p
        recall = 1 - (1 - q**p) ** t
        assert recall >= 0.95, f"n={n}: analytic recall {recall:.3f}"
        if p < 24:  # below the clamp, admission must track 1/n
            assert 2.0**-p <= 2.0 / n
    # The measured-flat regime: 20k vectors must land near the
    # hand-tuned 8x12 arm, orders of magnitude off the 16x3 floor.
    t20, p20 = _adaptive_pair_config(20_000)
    assert p20 >= 12 and t20 * 2.0**-p20 < 0.01


def test_adaptive_default_recall_on_planted_near_dups(spark, tmp_path):
    """The adaptive default end-to-end on the corpus shape it targets
    (scalebench's planted clusters, within-cluster cos ≈ 0.96): with
    NO explicit config, recovered pairs ⊆ exact and recall ≥ 0.95 —
    the scale-safe path a user gets by calling the op as documented."""
    from tools.scalebench import _build_corpus

    from logdb_spark.operators.llm import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_lsh,
    )

    _build_corpus(spark, str(tmp_path), 2500)  # → 1000 vectors
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, str(tmp_path)).collect()
        if r["cosine"] >= 0.9  # the near-dup regime the default targets
    }
    found = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine_lsh(spark, str(tmp_path)).collect()
    }
    exact_all = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, str(tmp_path)).collect()
    }
    assert found <= exact_all  # exact verify ⇒ no false positives
    assert truth, "planted corpus must contain near-dup pairs"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"adaptive recall {recall:.3f} < 0.95"


def _bpe_merge_state(spark, sf_dir):
    """The learned merge tables + the word-frequency relation, as the
    greedy twin needs them: (wf, m1 set, m2 set, unit-4 set)."""
    from logdb_spark.operators.llm import _bpe_gram_counts, _bpe_word_freq

    _, wf = _bpe_word_freq(spark, sf_dir)
    wf = wf.persist()
    m1 = {r["gram"] for r in _bpe_gram_counts(wf, 2, 256).collect()}
    m2 = {r["gram"] for r in _bpe_gram_counts(wf, 4, 64).collect()}
    units4 = {g for g in m2 if g[:2] in m1 and g[2:] in m1}
    return wf, m1, m2, units4


def _bpe_twin_totals(spark, sf_dir):
    """Corpus-weighted token totals under BOTH tokenizers over the
    same learned tables, computed distributed via mapInPandas (the
    greedy scan is inherently sequential PER WORD, perfectly parallel
    ACROSS words — the shape a true-BPE production path would take).
    Returns (aligned_total, greedy_total)."""
    import pandas as pd
    from pyspark.sql import functions as F

    wf, m1, m2, units4 = _bpe_merge_state(spark, sf_dir)

    def kernel(batches):
        for pdf in batches:
            al, gr = [], []
            for w in pdf["w"]:
                L = len(w)
                h1 = sum(
                    1 for i in range(L // 2) if w[2 * i : 2 * i + 2] in m1
                )
                h2 = sum(
                    1
                    for j in range(L // 4)
                    if w[4 * j : 4 * j + 4] in m2
                    and w[4 * j : 4 * j + 2] in m1
                    and w[4 * j + 2 : 4 * j + 4] in m1
                )
                al.append(L - h1 - h2)
                i = t = 0  # true leftmost-greedy longest-match scan
                while i < L:
                    if w[i : i + 4] in units4:
                        i += 4
                    elif w[i : i + 2] in m1:
                        i += 2
                    else:
                        i += 1
                    t += 1
                gr.append(t)
            yield pd.DataFrame(
                {"n": pdf["n"], "aligned": al, "greedy": gr}
            )

    out = (
        wf.mapInPandas(kernel, "n bigint, aligned bigint, greedy bigint")
        .agg(
            F.sum(F.col("n") * F.col("aligned")).alias("ta"),
            F.sum(F.col("n") * F.col("greedy")).alias("tg"),
        )
        .first()
    )
    wf.unpersist()
    return int(out["ta"]), int(out["tg"])


def test_bpe_aligned_tracks_true_greedy_within_band(spark, tmp_path):
    """VERDICT r10 task #7 — QUANTIFY the aligned-BPE honesty gap.
    text_bpe_tokenize's aligned pair-encoding replaces true BPE's
    sequential leftmost-greedy scan with positional algebra (the
    documented determinism trade). This runs the TRUE leftmost-greedy
    longest-match tokenizer over the SAME learned merge tables (via
    mapInPandas) and pins the approximation:

    - on the fixture corpus (31-word vocabulary) the two agree
      EXACTLY — the driver-hashed numbers are not approximate at all;
    - on a rich random-word corpus (2,115-word vocabulary, where
      alignment genuinely bites) aligned over-counts by a measured
      ~6.5% — pinned to ≤ 15%, and never UNDER-counts (a packing
      budget that over-estimates is safe; one that under-estimates
      overflows sequences);
    - the python aligned mirror is welded to the engine: its
      corpus-weighted total equals text_bpe_tokenize's summed
      tok_bpe, so the twin measures the real operator, not a
      lookalike."""
    import random

    from pyspark.sql import functions as F

    from logdb_spark.operators.llm import bpe_doc_tokens

    # -- fixture: exact agreement + engine weld
    ta, tg = _bpe_twin_totals(spark, SF_SMALL)
    engine = int(
        bpe_doc_tokens(spark, SF_SMALL).agg(F.sum("tok_bpe")).first()[0]
    )
    assert ta == engine  # mirror ≡ operator
    assert ta == tg, f"fixture gap: aligned {ta} vs greedy {tg}"

    # -- rich corpus: the honest band
    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(2, 14)))
        for _ in range(5000)
    ]
    docs = []
    for d in range(2000):
        n = rng.randint(5, 40)
        words = [
            vocab[min(int(rng.expovariate(1 / 400.0)), 4999)]
            for _ in range(n)
        ]
        docs.append((d, " ".join(words), "en", "syn", 0))
    rich = str(tmp_path / "rich")
    spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(f"{rich}/documents.parquet")

    ta2, tg2 = _bpe_twin_totals(spark, rich)
    engine2 = int(
        bpe_doc_tokens(spark, rich).agg(F.sum("tok_bpe")).first()[0]
    )
    assert ta2 == engine2  # weld holds off-fixture too
    ratio = ta2 / tg2
    assert 1.0 <= ratio <= 1.15, (
        f"aligned/greedy ratio {ratio:.4f} outside the stated band "
        f"(aligned {ta2}, greedy {tg2})"
    )


def test_pair_kernel_encode_paths_identical(spark):
    """r13 optimization: the pair sweep's dictionary encode
    (_bitmask_encode) has two paths (inline array-literal lookup for
    tiny vocabularies, driver-built broadcast dictionary + one-groupBy
    fold above _LITERAL_DICT_MAX_VOCAB). Both must produce identical
    mask relations — same chunk words, same popcounts — since every
    set-similarity op's result flows through them. Force each path
    over the same fixture corpus and compare the full relation."""
    from logdb_spark.operators import llm
    from logdb_spark.operators.llm import _bitmask_encode, _word_sets

    tok, sets_fn = _word_sets(spark, SF_SMALL)
    vocab = sorted(r[0] for r in tok.select("token").distinct().collect())
    assert len(vocab) <= llm._BITMASK_MAX_VOCAB  # the bitmask gate holds

    def masks_with(cap):
        old = llm._LITERAL_DICT_MAX_VOCAB
        llm._LITERAL_DICT_MAX_VOCAB = cap
        try:
            docs = _bitmask_encode(spark, tok, sets_fn, vocab)
            return sorted(
                (r["doc_id"], tuple(r["toks"]), r["n"]) for r in docs.collect()
            )
        finally:
            llm._LITERAL_DICT_MAX_VOCAB = old

    literal_path = masks_with(4096)  # word vocab (31) → literal path
    join_path = masks_with(0)        # force the broadcast-join path
    assert literal_path == join_path
