"""Dataset-assembly operator properties (pipeline/sampling.py): split
stability and proportions, quota bounds, packing invariants."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_1_12_0_src_spark.pipeline.sampling import (
    hash_split,
    pack_sequences,
    quota_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    from flink_1_12_0_src_spark.catalog import table

    return table(spark, "/root/testdata/sf0.01", "documents")


def test_hash_split_is_stable_and_proportional(spark, docs):
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").select("doc_id", "split").collect()}
    # stability: identical assignment on a re-run over a repartitioned input
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id").select("doc_id", "split").collect()
    }
    assert a == b
    n = len(a)
    frac_train = sum(1 for s in a.values() if s == "train") / n
    # 500 docs: binomial(500, .9) stays within ±5pp with overwhelming margin
    assert 0.85 <= frac_train <= 0.95
    assert set(a.values()) == {"train", "val", "test"}


def test_hash_split_subset_invariance(spark, docs):
    """A document's split never changes when the corpus grows — assignment
    depends only on the id (leakage-safe incremental ingestion)."""
    full = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").select("doc_id", "split").collect()}
    sub = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.filter(F.col("doc_id") % 3 == 0), "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert all(full[k] == v for k, v in sub.items())


def test_quota_sample_bounds_and_prefers_order(spark, docs):
    d = docs.withColumn("_len", F.length("text"))
    out = quota_sample(d, "lang", 10, "_len", "doc_id")
    per = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert all(c <= 10 for c in per.values())
    # the kept set per lang is exactly the top-10 by (len desc, id)
    kept_en = sorted(r["doc_id"] for r in out.filter("lang = 'en'").collect())
    ref = sorted(
        r["doc_id"]
        for r in d.filter("lang = 'en'")
        .orderBy(F.col("_len").desc(), "doc_id")
        .limit(10)
        .collect()
    )
    assert kept_en == ref


def test_pack_sequences_invariants(spark, docs):
    budget = 512
    toks = F.size(F.split(F.col("text"), " "))
    out = pack_sequences(docs, "doc_id", "lang", toks, budget).collect()
    by_stream: dict = {}
    for r in out:
        by_stream.setdefault(r["lang"], []).append(r)
    for rows in by_stream.values():
        rows.sort(key=lambda r: r["doc_id"])
        # offsets are the exclusive cumsum in id order
        cum = 0
        for r in rows:
            assert r["start_offset"] == cum
            assert r["pack_id"] == cum // budget
            cum += r["n_tokens"]
        # pack ids are contiguous from 0 per stream
        packs = sorted({r["pack_id"] for r in rows})
        assert packs == list(range(len(packs)))


def test_pack_efficiency_hand_numbers(spark):
    """Fill fraction is tokens / (n_packs * budget) with n_packs =
    ceil(tokens / budget) — a stream exactly filling its packs reports 1.0,
    a one-token overflow adds a whole nearly-empty tail pack."""
    from flink_1_12_0_src_spark.pipeline.sampling import pack_efficiency_report

    rows = [
        ("full", 10), ("full", 10),          # 20 tokens = 2 packs of 10 → 1.0
        ("spill", 10), ("spill", 11),        # 21 tokens = 3 packs → 0.7
        ("tiny", 1),                          # 1 token = 1 pack → 0.1
    ]
    df = spark.createDataFrame(rows, "stream string, nt int")
    got = {
        r["stream"]: (r["n_docs"], r["total_tokens"], r["n_packs"], r["fill_frac"])
        for r in pack_efficiency_report(df, "stream", F.col("nt"), 10).collect()
    }
    assert got == {
        "full": (2, 20, 2, 1.0),
        "spill": (2, 21, 3, 0.7),
        "tiny": (1, 1, 1, 0.1),
    }


def test_shuffle_shard_is_a_permutation_and_seed_stable(spark, sf_dir):
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.sampling import shuffle_shard

    docs = table(spark, sf_dir, "documents")
    out = shuffle_shard(docs, "doc_id", seed=77).collect()
    assert len(out) == docs.count()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["position"])
    # within every shard, positions are exactly 1..n (a permutation)
    for shard, pos in by_shard.items():
        assert 0 <= shard < 16
        assert sorted(pos) == list(range(1, len(pos) + 1))
    # identical across re-runs (stateless), different under a new seed
    again = shuffle_shard(docs, "doc_id", seed=77).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = {(r["doc_id"]): (r["shard_id"], r["position"])
             for r in shuffle_shard(docs, "doc_id", seed=78).collect()}
    moved = sum((r["shard_id"], r["position"]) != other[r["doc_id"]] for r in out)
    assert moved > len(out) // 2


def test_token_budget_block_size_invariance(spark, sf_dir):
    """The two-phase distributed prefix sum is EXACT: any block size (including
    one so large the whole source is a single block — the naive single-window
    formulation) yields identical (cum_before, selected) assignments."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.sampling import token_budget_select

    docs = table(spark, sf_dir, "documents")
    tok = F.size(F.split(F.col("text"), " "))

    def run(block):
        rows = token_budget_select(
            docs, "doc_id", "source", tok, budget=2000, block=block
        ).collect()
        return sorted(map(tuple, rows))

    single_window = run(10**9)  # one block per source == naive formulation
    assert run(64) == single_window
    assert run(257) == single_window  # non-power-of-two, misaligned boundaries
    # budget boundary: per source, the selected set is a prefix in id order
    # and stops exactly where cum_before crosses the budget
    by_src = {}
    for doc_id, src, n, cum, sel in single_window:
        by_src.setdefault(src, []).append((doc_id, n, cum, sel))
    for src, rows in by_src.items():
        rows.sort()
        cum = 0
        for doc_id, n, cum_before, sel in rows:
            assert cum_before == cum
            assert sel == (cum_before < 2000)
            cum += n


def test_token_budget_null_tokens_contribute_zero(spark):
    """A NULL token count must not poison the prefix sum: the row gets a
    concrete cum_before/selected (NULL contributes 0, like SQL window SUM)."""
    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.sampling import token_budget_select

    df = spark.createDataFrame(
        [(0, "a", 5), (1, "a", None), (2, "a", 7), (3, "b", None), (4, "b", 2)],
        "doc_id long, source string, n long",
    )
    rows = {
        r["doc_id"]: (r["n_tokens"], r["cum_before"], r["selected"])
        for r in token_budget_select(
            df, "doc_id", "source", F.col("n"), budget=10, block=2
        ).collect()
    }
    assert rows[0] == (5, 0, True)
    assert rows[1] == (None, 5, True)   # concrete, not NULL
    assert rows[2] == (7, 5, True)      # NULL row added nothing
    assert rows[3] == (None, 0, True)   # leading NULL in a fresh source
    assert rows[4] == (2, 0, True)


def test_token_budget_property_matches_python_reference(spark):
    """Hypothesis: random (id, source, tokens-with-nulls) tables — the
    two-phase distributed prefix sum must equal the sequential python
    reference exactly, for any block size."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings, strategies as st

    from pyspark.sql import functions as F

    from flink_1_12_0_src_spark.pipeline.sampling import token_budget_select

    rows_strategy = st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.one_of(st.none(), st.integers(0, 50))),
        min_size=1,
        max_size=25,
    )

    @given(rows=rows_strategy, block=st.sampled_from([1, 3, 7, 1000]), budget=st.integers(0, 120))
    @settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
    def run(rows, block, budget):
        pdf = pd.DataFrame(
            [(i, s, n) for i, (s, n) in enumerate(rows)], columns=["doc_id", "source", "n"]
        )
        sdf = spark.createDataFrame(
            pdf.astype(object).where(pdf.notna(), None), "doc_id long, source string, n long"
        )
        got = {
            r["doc_id"]: (r["cum_before"], r["selected"])
            for r in token_budget_select(sdf, "doc_id", "source", F.col("n"), budget, block=block).collect()
        }
        cum: dict = {}
        for i, (s, n) in enumerate(rows):
            before = cum.get(s, 0)
            assert got[i] == (before, before < budget), (i, s, n, block, budget)
            cum[s] = before + (n or 0)

    run()


def test_epoch_repeat_targets_volume(spark, sf_dir):
    """Repeat counts are floor/ceil of the per-source epoch target, epoch
    indices are dense 0..repeat_count-1, and the realized epoch-expanded
    char volume lands near each source's target volume."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.sampling import epoch_repeat

    docs = table(spark, sf_dir, "documents")
    rows = epoch_repeat(docs).collect()
    vols = {
        r["source"]: r["vol"]
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("vol")).collect()
    }
    mx = max(vols.values())
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault((r["doc_id"], r["source"]), []).append(r["epoch_idx"])
        epochs = min(mx / vols[r["source"]], 3.0)
        assert r["repeat_count"] in (int(epochs), int(epochs) + 1)
    for (doc_id, _), idxs in per_doc.items():
        assert sorted(idxs) == list(range(len(idxs))), doc_id
    # realized volume ≈ target volume per source (fractional repeats are
    # hash-Bernoulli with the exact target expectation)
    chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    realized: dict = {}
    for (doc_id, src), idxs in per_doc.items():
        realized[src] = realized.get(src, 0) + chars[doc_id] * len(idxs)
    for src, vol in vols.items():
        target = min(mx / vol, 3.0) * vol
        assert abs(realized[src] - target) / target < 0.25, (src, realized[src], target)


def test_weighted_sample_biases_toward_weight(spark, sf_dir):
    """The A-ES sample is length-biased (mean n_chars above the corpus
    mean), exactly k rows, stable under repartitioning, and its keys are
    the top-k of the full key distribution."""
    from flink_1_12_0_src_spark.catalog import table
    from flink_1_12_0_src_spark.pipeline.sampling import weighted_sample

    docs = table(spark, sf_dir, "documents")
    got = weighted_sample(docs, k=100).collect()
    assert len(got) == 100
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r["n_chars"] for r in got) / len(got)
    assert sample_mean > corpus_mean
    again = weighted_sample(docs.repartition(7, "doc_id"), k=100).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(r["doc_id"] for r in again)
    # k = population size yields every row (the full key distribution);
    # k=10**9 asked Spark's TakeOrdered for a billion-slot bound and cost
    # ~10 s for 500 rows — same result set, pathological path
    n_docs = docs.count()
    all_keys = sorted(
        (r["es_key"] for r in weighted_sample(docs, k=n_docs).collect()),
        reverse=True,
    )
    assert len(all_keys) == n_docs
    assert sorted((r["es_key"] for r in got), reverse=True) == all_keys[:100]


def test_doremi_weights_partition_invariant_and_contract(spark, docs):
    """doremi_weights' whole point is engine-/partitioning-exact mixture
    training: 6-dp-rounded LM losses, exact nano-unit integer normalizers
    and DECIMAL iterate accumulation must yield bit-identical weights
    whatever the input partitioning. Also pins the distribution contract
    (weights positive, summing to ~1 up to the per-domain 6-dp rounding)
    and the fail-fast rounds contract."""
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights

    sub = docs.filter(F.col("doc_id") < 300)
    base = sorted(
        tuple(r) for r in doremi_weights(sub, "doc_id", "text", "source", rounds=2).collect()
    )
    again = sorted(
        tuple(r)
        for r in doremi_weights(
            sub.repartition(7), "doc_id", "text", "source", rounds=2
        ).collect()
    )
    assert base == again
    assert len(base) > 1
    weights = [r[-1] for r in base]
    assert all(w > 0 for w in weights)
    assert abs(sum(weights) - 1.0) < 1e-4
    with pytest.raises(ValueError, match="rounds"):
        doremi_weights(docs, "doc_id", "text", "source", rounds=0)


def test_doremi_weights_matches_python_twin(spark):
    """Brute-force twin of the COUPLED trainer: per round, retrain the
    proxy unigram LM on the previous iterate's mixture (pico-unit integer
    mixture probabilities, 6-dp ln rounding), re-score each domain's
    excess against the fixed bigram reference, then the exponentiated-
    gradient step (identical roundings, Decimal iterate accumulation) in
    plain Python must reproduce doremi_weights' output, and the domain
    with the largest excess loss must get the largest weight (the
    recipe's whole point: upweight what the proxy can't learn)."""
    import math
    from collections import Counter
    from decimal import Decimal

    from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights

    texts = {
        # heavy repetition: unigram LM does nearly as well as bigram
        "easy": "the the the cat sat on the mat the cat",
        # mid-entropy
        "med": "alpha beta gamma delta alpha beta epsilon zeta",
        # all-rare unigrams in fixed bigram order: big unigram-vs-bigram gap
        "hard": "qq ww ee rr tt yy uu ii oo pp",
    }
    rows = []
    i = 0
    for dom, base_text in texts.items():
        for j in range(8):
            rows.append((i, base_text + f" tail{j % 3}", dom))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rounds, eta, s = 3, 0.5, 0.02

    def toks(t):
        return [x for x in t.lower().split(" ") if x != ""]

    doms: dict = {}
    for _, t, d in rows:
        doms.setdefault(d, []).append(toks(t))
    # sufficient statistics: per-(domain, term) counts + per-domain totals
    dterm: dict = {}
    ntok: dict = {}
    for d, ds in doms.items():
        cnt = Counter(t for doc in ds for t in doc)
        dterm[d] = cnt
        ntok[d] = sum(cnt.values())
    c = Counter(t for ds in doms.values() for doc in ds for t in doc)
    bgs = Counter(
        (a, b) for ds in doms.values() for doc in ds for a, b in zip(doc, doc[1:])
    )
    vs = float(len(c))
    # fixed reference loss: add-1-smoothed bigram LM
    lr = {}
    for d, ds in doms.items():
        sb, nb = Decimal(0), 0
        for doc in ds:
            for a, b in zip(doc, doc[1:]):
                sb += Decimal(str(round(-math.log((bgs[(a, b)] + 1.0) / (c[a] + vs)), 6)))
                nb += 1
        lr[d] = float(sb) / nb
    k = len(doms)
    # unit-scaled roundings mirror the operator's engine-stable forms
    u6 = lambda x: round(x * 1e6) / 1e6  # noqa: E731
    alpha = {d: round(1.0 / k * 1e9) / 1e9 for d in doms}
    acc = {d: Decimal(0) for d in doms}
    lp, ex = {}, {}
    for _ in range(rounds):
        # retrain the proxy on the current mixture: pico-unit integer
        # probabilities summed across domains (order-invariant)
        pm = {
            t: max(
                sum(
                    int(round(alpha[d] * float(dterm[d][t]) / float(ntok[d]) * 1e15))
                    for d in doms
                    if t in dterm[d]
                ),
                1,
            )
            for t in c
        }
        for d in doms:
            su = Decimal(0)
            for t, n in dterm[d].items():
                su += Decimal(n) * Decimal(str(round(-math.log(pm[t] / 1e15), 6)))
            lp[d] = float(su) / ntok[d]
            ex[d] = u6(max(0.0, lp[d] - lr[d]))
        ee = {d: round(math.exp(eta * ex[d]), 6) for d in doms}
        numn = {d: int(round(alpha[d] * ee[d] * 1e9)) for d in doms}
        z = float(sum(numn.values()))
        for d in doms:
            alpha[d] = u6(numn[d] / z)
            acc[d] += Decimal(str(alpha[d]))
    want = {
        d: u6((1.0 - s) * (float(acc[d]) / float(rounds)) + s * (1.0 / k))
        for d in doms
    }

    got = {
        r["domain"]: r
        for r in doremi_weights(
            df, "doc_id", "text", "source", rounds=rounds, eta=eta, smoothing=s
        ).collect()
    }
    assert set(got) == set(doms)
    for d in doms:
        assert abs(got[d]["proxy_nll"] - round(lp[d], 6)) < 5e-6, d
        assert abs(got[d]["ref_nll"] - round(lr[d], 6)) < 5e-6, d
        assert abs(got[d]["excess_loss"] - ex[d]) < 5e-6, d
        assert abs(got[d]["weight"] - want[d]) < 5e-6, d
        assert got[d]["n_docs"] == 8
    # the hardest domain (largest excess) wins the mixture
    top = max(got.values(), key=lambda r: r["excess_loss"])
    assert top["weight"] == max(r["weight"] for r in got.values())


def test_doremi_rounds_are_coupled(spark):
    """The round-12 coupling's observable signature: the per-round excess
    is MIXTURE-DEPENDENT, so on a skewed fixture the round-2 state differs
    from the round-1 state (rounds=1 vs rounds=2 report different final
    excess_loss) — under the pre-coupling static scorer the excess was
    identical across rounds by construction. Also pins the self-correcting
    direction: upweighting the hard domain makes its terms more probable
    under the proxy, so its round-2 excess drops below its round-1
    excess."""
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights

    texts = {
        "easy": "the the the cat sat on the mat the cat",
        "hard": "qq ww ee rr tt yy uu ii oo pp",
    }
    rows = []
    i = 0
    for dom, base_text in texts.items():
        for j in range(6):
            rows.append((i, base_text + f" tail{j % 2}", dom))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r1 = {
        r["domain"]: r
        for r in doremi_weights(df, "doc_id", "text", "source", rounds=1).collect()
    }
    r2 = {
        r["domain"]: r
        for r in doremi_weights(df, "doc_id", "text", "source", rounds=2).collect()
    }
    assert r1["hard"]["excess_loss"] > 0
    # coupled: the round-2 re-score differs from round 1's
    assert r2["hard"]["excess_loss"] != r1["hard"]["excess_loss"]
    # and in the self-correcting direction
    assert r2["hard"]["excess_loss"] < r1["hard"]["excess_loss"]


def test_doremi_round_job_budget(spark, docs):
    """One gradient round launches at most 4 Spark jobs: the round reads the
    previous iterate once (one broadcast), so the per-round barrier is the
    only extra action. Measured as the job-count difference between 2 and 1
    rounds, each run under its own job group."""
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights

    sc = spark.sparkContext

    def jobs(rounds):
        group = f"doremi_round_budget_{rounds}"
        sc.setJobGroup(group, group)
        try:
            doremi_weights(docs, "doc_id", "text", "source", rounds=rounds).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(2) - jobs(1) <= 4


def test_doremi_sample_realizes_learned_mixture(spark, docs):
    """The sampler must realize the trainer's mixture: the bottleneck
    domain (largest weight/n_docs) keeps every doc, every other domain's
    realized kept count tracks keep_p·n within binomial noise, and
    membership is a pure hash function — identical under repartitioning."""
    from collections import Counter

    from flink_1_12_0_src_spark.pipeline.sampling import doremi_sample, doremi_weights

    kept = doremi_sample(docs, "doc_id", "text", "source", rounds=2).collect()
    w = {
        r["domain"]: r
        for r in doremi_weights(docs, "doc_id", "text", "source", rounds=2).collect()
    }
    kc = Counter(r["domain"] for r in kept)
    ratios = {d: r["weight"] / r["n_docs"] for d, r in w.items()}
    top = max(ratios, key=lambda d: ratios[d])
    assert kc[top] == w[top]["n_docs"]
    mx = ratios[top]
    for d, r in w.items():
        exp = min(1.0, ratios[d] / mx) * r["n_docs"]
        tol = max(6.0, 4.0 * exp**0.5)
        assert abs(kc.get(d, 0) - exp) <= tol, (d, kc.get(d), exp)
    again = doremi_sample(
        docs.repartition(7), "doc_id", "text", "source", rounds=2
    ).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)
