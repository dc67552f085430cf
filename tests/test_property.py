"""Property-based parity tests (hypothesis): Spark operators vs pandas
semantics on randomized small frames — the testing dimension the reference
lacks (SURVEY §5). Few examples + fixed deadline=None keep Spark latency sane.
"""

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from analyst_toolkit_spark.functions.stats import kurtosis_g2, percentile_exact, skewness_g1
from analyst_toolkit_spark.ingest import ROW_ID
from analyst_toolkit_spark.operators import duplicates as M_dup
from analyst_toolkit_spark.operators import impute as M_imp

from pyspark.sql import functions as F

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

floats = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32)
opt_floats = st.one_of(st.none(), floats)


# integer-valued floats: keeps moments out of the regime where pandas'
# _zero_out_fperr guard (|m3| < 1e-14 → skew 0) diverges from exact math
int_floats = st.integers(min_value=-1000, max_value=1000).map(float)


@given(vals=st.lists(int_floats, min_size=4, max_size=40))
@SET
def test_stats_match_pandas(spark, vals):
    s = pd.Series(vals, dtype="float64")
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    row = df.agg(
        skewness_g1(F.col("v")).alias("skew"),
        kurtosis_g2(F.col("v")).alias("kurt"),
        percentile_exact(F.col("v"), [0.25, 0.5, 0.75]).alias("q"),
        F.stddev_samp("v").alias("std"),
    ).first()
    if s.nunique() > 1:  # pandas returns 0-division artifacts on constant series
        assert row["skew"] == pytest.approx(s.skew(), rel=1e-6, abs=1e-9)
        assert row["kurt"] == pytest.approx(s.kurt(), rel=1e-6, abs=1e-9)
    assert list(row["q"]) == pytest.approx(list(s.quantile([0.25, 0.5, 0.75])), rel=1e-9)
    assert row["std"] == pytest.approx(s.std(), rel=1e-9)  # ddof=1


@pytest.mark.parametrize("tier", ["driver", "spark"])
@given(vals=st.lists(st.one_of(st.none(), st.floats(allow_nan=True, allow_infinity=False, width=16)), max_size=30))
@SET
def test_column_stats_and_profile_match_pandas(spark, tmp_path, monkeypatch, tier, vals):
    # half-precision draws keep every sum exact in double, so the mean is
    # the same number whichever order Spark or numpy adds in; NaN is missing
    import uuid

    from analyst_toolkit_spark.functions import stats as S
    from analyst_toolkit_spark.operators.profile import column_stats, profile

    if tier == "spark":
        monkeypatch.setattr(S, "QUANTILE_DRIVER_THRESHOLD_BYTES", -1)
    path = str(tmp_path / uuid.uuid4().hex)
    spark.createDataFrame([(v,) for v in vals], "x double").write.parquet(path)
    df = spark.read.parquet(path)
    assert S.quantile_strategy(df) == ("driver" if tier == "driver" else "builtin")
    s = pd.Series(vals, dtype="float64")
    n = len(s)
    empty = s.isna().all()
    want = {
        "column": "x",
        "dtype": "double",
        "count": n,
        "nulls": int(s.isna().sum()),
        "n_unique": int(s.nunique()),
        "min": None if empty else float(s.min()),
        "max": None if empty else float(s.max()),
    }
    assert column_stats(df) == [want]
    p = profile(df).first().asDict()
    shared = ("column", "count", "nulls", "n_unique", "min", "max")
    assert {k: p[k] for k in shared} == {k: want[k] for k in shared}
    assert p["null_pct"] == (want["nulls"] / n if n else None)
    if empty:
        assert p["mean"] is None and p["q50"] is None
    else:
        assert p["mean"] == pytest.approx(s.mean(), rel=1e-12)
        assert p["q50"] == pytest.approx(s.quantile(0.5), rel=1e-12)


@given(vals=st.lists(st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d"])), min_size=1, max_size=30))
@SET
def test_mode_matches_pandas(spark, vals):
    s = pd.Series(vals, dtype="object")
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    _, fills = M_imp.impute(df, [M_imp.ImputeSpec("v", "mode")])
    modes = s.mode(dropna=True)
    if len(modes):
        assert fills["v"] == modes.iloc[0]  # pandas tie-break: smallest value
    else:
        assert fills.get("v") is None


@given(
    keys=st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=30),
    keep=st.sampled_from(["first", "last", False]),
)
@SET
def test_duplicated_matches_pandas(spark, keys, keep):
    pdf = pd.DataFrame({"k": keys})
    df = spark.createDataFrame([(i, int(k)) for i, k in enumerate(keys)], f"{ROW_ID} long, k long")
    flags = (
        M_dup.flag_duplicates(df, ["k"], keep=keep)
        .orderBy(ROW_ID)
        .select("is_duplicate")
        .collect()
    )
    expected = pdf["k"].duplicated(keep=keep).tolist()
    assert [r[0] for r in flags] == expected


@given(vals=st.lists(opt_floats, min_size=1, max_size=30))
@SET
def test_impute_mean_matches_pandas(spark, vals):
    s = pd.Series(vals, dtype="float64")
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out, fills = M_imp.impute(df, [M_imp.ImputeSpec("v", "mean")])
    expected = s.fillna(s.mean())
    got = sorted((r[0] for r in out.select("v").collect()), key=lambda x: (x is None, x))
    exp = sorted(
        (None if (isinstance(v, float) and math.isnan(v)) else v for v in expected),
        key=lambda x: (x is None, x),
    )
    if s.notna().any():
        assert got == pytest.approx(exp, rel=1e-9)
    else:
        assert all(v is None for v in got)  # nothing to fill from


@given(
    vals=st.lists(st.one_of(st.none(), st.sampled_from(["a", "b", "c", "x"])), min_size=1, max_size=25),
)
@SET
def test_remap_matches_pandas_replace(spark, vals):
    from analyst_toolkit_spark.operators.normalize import remap_values

    mapping = {"a": "A", "x": "null"}  # 'null' sentinel -> real null
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = sorted((r[0] for r in remap_values(df, "v", mapping).collect()), key=lambda x: (x is None, x))
    s = pd.Series(vals, dtype="object").replace({"a": "A", "x": None})
    exp = sorted((None if v is None else v for v in s), key=lambda x: (x is None, x))
    assert got == exp


@given(vals=st.lists(st.one_of(st.none(), st.sampled_from("pqrs")), min_size=1, max_size=25))
@SET
def test_value_counts_matches_pandas(spark, vals):
    from analyst_toolkit_spark.operators.profile import value_counts

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r["value"]: r["count"] for r in value_counts(df, "v", dropna=False).collect()}
    exp = pd.Series(vals, dtype="object").value_counts(dropna=False)
    exp = {(None if (isinstance(k, float) or k is None) else k): int(n) for k, n in exp.items()}
    assert got == exp


@given(
    before=st.lists(st.integers(0, 5), min_size=1, max_size=15),
    edits=st.sets(st.integers(0, 14)),
)
@SET
def test_row_diff_matches_pandas_compare(spark, before, edits):
    from analyst_toolkit_spark.operators import diff as M_diff

    after = [v + 100 if i in edits else v for i, v in enumerate(before)]
    b = spark.createDataFrame([(i, v) for i, v in enumerate(before)], f"{ROW_ID} long, v long")
    a = spark.createDataFrame([(i, v) for i, v in enumerate(after)], f"{ROW_ID} long, v long")
    got = {r[ROW_ID] for r in M_diff.row_diff(b, a).collect()}
    pb, pa = pd.DataFrame({"v": before}), pd.DataFrame({"v": after})
    exp = set(pb.compare(pa).index.tolist())
    assert got == exp


# -- as-of join vs pandas merge_asof (round 4) --------------------------------

_asof_key = st.sampled_from(["a", "b"])
# distinct-ish times from a small grid; ties across sides exercised via overlap
_asof_t = st.integers(min_value=0, max_value=30).map(float)


@given(
    left=st.lists(st.tuples(_asof_key, _asof_t), min_size=1, max_size=15),
    right=st.lists(st.tuples(_asof_key, _asof_t), min_size=0, max_size=15),
    direction=st.sampled_from(["backward", "forward"]),
    allow_exact=st.booleans(),
)
@SET
def test_asof_join_matches_merge_asof(spark, left, right, direction, allow_exact):
    from analyst_toolkit_spark.operators.joins import asof_join

    # merge_asof requires unique (by, on) on the right for well-defined output;
    # dedupe both sides the same way
    lrows = sorted({(k, t) for k, t in left})
    rrows = sorted({(k, t) for k, t in right})
    ldf = spark.createDataFrame([(k, t, i) for i, (k, t) in enumerate(lrows)], "k string, t double, lid int")
    rdf = spark.createDataFrame(
        [(k, t, float(i)) for i, (k, t) in enumerate(rrows)] or [("__none__", -1.0, -1.0)],
        "k string, t double, rv double",
    )
    got = (
        asof_join(ldf, rdf, on="t", by="k", direction=direction, allow_exact_matches=allow_exact)
        .orderBy("k", "t")
        .toPandas()
    )
    lp = pd.DataFrame(lrows, columns=["k", "t"]).assign(lid=range(len(lrows))).sort_values("t")
    rp = pd.DataFrame(rrows or [("__none__", -1.0)], columns=["k", "t"])
    rp["rv"] = [float(i) for i in range(len(rp))]
    rp = rp.sort_values("t")
    exp = (
        pd.merge_asof(lp, rp, on="t", by="k", direction=direction, allow_exact_matches=allow_exact)
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    assert list(got["rv"].fillna(-99)) == list(exp["rv"].fillna(-99)), (direction, allow_exact)


@given(
    vals=st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False, width=16), min_size=1, max_size=20),
    bounds=st.lists(
        st.tuples(st.floats(min_value=-100, max_value=100, allow_nan=False, width=16),
                  st.floats(min_value=-100, max_value=100, allow_nan=False, width=16)),
        min_size=1, max_size=6,
    ),
)
@SET
@pytest.mark.slow  # r16 tier split (default tier: test_joins range suite + both range-join oracle rows)
def test_range_join_matches_bruteforce(spark, vals, bounds):
    from analyst_toolkit_spark.operators.joins import range_join

    ivals = [(lo, hi) if lo <= hi else (hi, lo) for lo, hi in bounds]
    ldf = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "id int, v double")
    rdf = spark.createDataFrame([(j, float(lo), float(hi)) for j, (lo, hi) in enumerate(ivals)], "bid int, lo double, hi double")
    for mode in ("broadcast", "binned"):
        got = {(r["id"], r["bid"]) for r in range_join(ldf, rdf, "v", "lo", "hi", mode=mode, bin_width=7.0).collect()}
        exp = {(i, j) for i, v in enumerate(vals) for j, (lo, hi) in enumerate(ivals) if lo <= v <= hi}
        assert got == exp, mode


# -- connected components vs union-find (round 4) -----------------------------


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to min-id representative
    return {n: find(n) for n in nodes}


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_connected_components_matches_union_find(spark, edges):
    from analyst_toolkit_spark.llm.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    nodes = {n for e in edges for n in e}
    exp = _uf_components(edges, nodes)
    # union-find's find() resolves transitively to the min id of the component
    # because unions always point larger roots at smaller ones
    assert got == exp


@given(
    lefts=st.lists(st.integers(min_value=0, max_value=50).map(float), min_size=1, max_size=15),
    rights=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50).map(float), st.integers(0, 99)),
        min_size=1,
        max_size=15,
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    allow_exact=st.booleans(),
)
@SET
def test_asof_matches_pandas_property(spark, lefts, rights, direction, allow_exact):
    """asof_join vs pandas merge_asof over random timelines, all three
    directions — including the nearest tie rule (equal distances abound with
    integer-valued times)."""
    from analyst_toolkit_spark.operators import joins as M_j

    lp = pd.DataFrame({"t": sorted(lefts)}).reset_index(drop=True)
    rp = (
        pd.DataFrame(rights, columns=["t", "px"])
        .drop_duplicates("t")  # merge_asof allows dup right keys but tie order is positional; keep it well-defined
        .sort_values("t")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(lp, rp, on="t", direction=direction, allow_exact_matches=allow_exact)

    left = spark.createDataFrame(lp)
    right = spark.createDataFrame(rp)
    got = (
        M_j.asof_join(left, right, on="t", direction=direction, allow_exact_matches=allow_exact)
        .orderBy("t")
        .toPandas()
    )
    assert list(got["px_asof" if "px_asof" in got.columns else "px"].fillna(-1)) == list(
        exp["px"].fillna(-1)
    ), (direction, allow_exact, lefts, rights)


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40),
    budget=st.integers(min_value=1, max_value=60),
    parts=st.integers(min_value=1, max_value=6),
)
@SET
def test_pack_prefix_sum_matches_single_node(spark, sizes, budget, parts):
    """The distributed prefix sum behind pack_sequences equals the plain
    sequential cumsum for any token-size profile, budget, and input
    partitioning — including zero-token docs and budget-1 edge cases."""
    from analyst_toolkit_spark.llm import pack as P

    rows = [(i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id int, n long").repartition(parts)
    got = {
        r["doc_id"]: (r["_cum_tokens"], r["seq_id"])
        for r in P.pack_sequences(df, budget, tokens_col="n").collect()
    }
    running = 0
    for i, n in enumerate(sizes):
        before = running
        running += n
        assert got[i] == (running, before // budget), (i, sizes, budget)


@given(
    vals=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=60),
    n=st.integers(min_value=1, max_value=12),
)
@SET
@pytest.mark.slow  # r16 tier split (default tier: test_pack global-ntile window-parity test)
def test_global_ntile_band_invariants(spark, vals, n):
    """NTILE invariants under arbitrary data/bucket counts: bands are
    1..min(n, N), sizes differ by at most 1, larger bands come first, and
    band assignment is monotone in the total order."""
    from analyst_toolkit_spark.llm.pack import global_ntile

    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], ["pk", "v"])
    rows = global_ntile(df, n, ["v", "pk"]).orderBy("v", "pk").collect()
    bands = [r["ntile"] for r in rows]
    n_rows = len(vals)
    assert bands == sorted(bands)  # monotone in the total order
    assert set(bands) == set(range(1, min(n, n_rows) + 1))
    from collections import Counter

    sizes = Counter(bands)
    assert max(sizes.values()) - min(sizes.values()) <= 1
    ordered_sizes = [sizes[b] for b in sorted(sizes)]
    assert ordered_sizes == sorted(ordered_sizes, reverse=True)  # larger first


# small-alphabet token texts: high collision rate so repeated spans actually
# occur in random corpora
_span_doc = st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=30).map(" ".join)


@given(docs=st.lists(_span_doc, min_size=2, max_size=8), n=st.integers(min_value=2, max_value=4))
@SET
@pytest.mark.slow  # r16 tier split (default tier: direct span tests in test_llm incl. the single-tokenize pin)
def test_repeated_spans_invariants(spark, docs, n):
    """Exact parity with a Python ground-truth reimplementation under
    arbitrary corpora: duplicated-gram hits -> islands merge -> maximal
    spans, and removal arithmetic (kept + removed == total; cleaned text ==
    tokens minus span positions)."""
    from collections import defaultdict

    from analyst_toolkit_spark.llm import dedup as D

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = {i: (t.split() if t else []) for i, t in rows}

    gram_owners = defaultdict(set)
    for d, ts in toks.items():
        for q in range(len(ts) - n + 1):
            gram_owners[tuple(ts[q : q + n])].add(d)
    expected = set()
    exp_by_doc = defaultdict(list)
    for d, ts in toks.items():
        hits = [
            q
            for q in range(len(ts) - n + 1)
            if len(gram_owners[tuple(ts[q : q + n])]) >= 2
        ]
        island_start = prev = None
        for q in hits + [None]:
            if prev is not None and (q is None or q - prev > n):
                expected.add((d, island_start, prev + n - 1, prev + n - island_start))
                exp_by_doc[d].append((island_start, prev + n - 1))
                island_start = None
            if q is not None:
                if island_start is None:
                    island_start = q
                prev = q

    got = {
        (r.doc_id, r.start_tok, r.end_tok, r.span_tokens)
        for r in D.repeated_spans(df, n=n).collect()
    }
    assert got == expected

    removed = {r.doc_id: r for r in D.remove_repeated_spans(df, n=n).collect()}
    assert set(removed) == set(toks)
    for d, r in removed.items():
        assert r.kept_tokens + r.removed_tokens == len(toks[d])
        cut = {p for (s, e) in exp_by_doc.get(d, []) for p in range(s, e + 1)}
        expect_text = " ".join(t for p, t in enumerate(toks[d]) if p not in cut)
        assert r.clean_text == expect_text


@given(docs=st.lists(st.lists(st.sampled_from("abcd ")).map("".join), min_size=1, max_size=6))
@SET
def test_charlm_model_is_normalized(spark, docs):
    """A trained char-LM is a proper conditional distribution: probs lie in
    (0, 1] and sum to 1 within each 2-char prefix; scored docs stay in
    [0, 1] mean probability with zero OOV when self-scored."""
    from collections import defaultdict

    from analyst_toolkit_spark.llm import lm as L

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], ["doc_id", "text"])
    model = L.train_char_lm(df)
    rows = model.collect()
    by_prefix = defaultdict(float)
    for r in rows:
        assert 0.0 < r.prob <= 1.0
        by_prefix[r.gram[:2]] += r.prob
    for p, s in by_prefix.items():
        assert abs(s - 1.0) < 1e-9, f"prefix {p!r} sums to {s}"
    if rows:
        scored = L.charlm_score(df, model).collect()
        for r in scored:
            assert r.oov_grams == 0 and 0.0 < r.mean_prob <= 1.0


_url_piece = st.text(alphabet="abcXYZ019", min_size=0, max_size=6)


@given(
    scheme=st.sampled_from(["http://", "https://"]),
    www=st.booleans(),
    user=st.one_of(st.none(), _url_piece),
    host=_url_piece.map(lambda s: (s or "h") + ".com"),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.lists(_url_piece, max_size=3).map(lambda ps: "".join("/" + (p or "p") for p in ps)),
    query=st.sampled_from(["", "?id=5", "?utm_source=a", "?utm_source=a&id=5", "?id=5&gclid=z", "?ref=x&utm_b=c"]),
    frag=st.sampled_from(["", "#x"]),
    slash=st.booleans(),
)
@SET
def test_canonicalize_url_idempotent_and_variant_stable(
    spark, scheme, www, user, host, port, path, query, frag, slash
):
    """canonicalize_url is a FIXED POINT on its own output (idempotence) and
    collapses the scheme/www/default-port/userinfo/fragment/trailing-slash
    axes: any two variants along those axes canonicalize identically."""
    from analyst_toolkit_spark.llm.text import canonicalize_url

    base = host + path + (("" if slash else "")) + query
    u1 = scheme + ("www." if www else "") + ((user + "@") if user else "") + host + port + path + ("/" if slash and path else "") + query + frag
    u2 = "https://" + host + (":443" if port in ("", ":443", ":80") else port) + path + query
    df = spark.createDataFrame([(1, u1), (2, u2)], ["i", "url"])
    out = {r.i: r.c for r in df.select("i", canonicalize_url("url").alias("c")).collect()}
    # variant-stability along the collapsed axes (non-default ports excluded)
    if port in ("", ":80", ":443"):
        assert out[1] == out[2], f"{u1!r} vs {u2!r}: {out[1]!r} != {out[2]!r}"
    # idempotence: re-canonicalizing the canonical form changes nothing
    df2 = spark.createDataFrame([(i, c) for i, c in out.items()], ["i", "url"])
    out2 = {r.i: r.c for r in df2.select("i", canonicalize_url("url").alias("c")).collect()}
    assert out2 == out


@given(
    n=st.integers(min_value=1, max_value=30),
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=29), st.integers(min_value=0, max_value=29)),
        max_size=15,
    ),
)
@SET
def test_leakage_safe_split_invariants(spark, n, edges):
    """For ANY corpus + component graph: every row keeps exactly one split,
    all members of a component share it, and singletons match hash_split."""
    from analyst_toolkit_spark.llm.text import hash_split, leakage_safe_split

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(n)], ["doc_id", "text"])
    # union-find the random edge list into CC-contract components (min label)
    parent = list(range(30))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a < n and b < n and a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i in range(n):
        r = find(i)
        if r != i or any(find(j) == i for j in range(n) if j != i):
            comp[i] = r
    comps = spark.createDataFrame(
        [(k, v) for k, v in comp.items()] or [(None, None)], "node long, component long"
    ).filter("node is not null")
    out = {r["doc_id"]: (r["split"], r["split_key"]) for r in leakage_safe_split(docs, comps).collect()}
    base = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert set(out) == set(range(n))  # no row lost or duplicated
    for i in range(n):
        if i in comp:
            assert out[i] == (base[comp[i]], comp[i])  # follows the rep's bucket
        else:
            assert out[i] == (base[i], i)  # singleton == plain hash_split


@given(
    texts=st.lists(st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "!"])).map(" ".join), min_size=1, max_size=12),
    v=st.integers(min_value=1, max_value=5),
)
@SET
@pytest.mark.slow  # r16 tier split (default tier: oov_rate oracle row + vocab tests)
def test_oov_rate_invariants(spark, texts, v):
    """0 <= n_oov <= n_tokens for every doc; total OOV mass equals total
    tokens minus the top-v vocab's occurrence mass; a vocab budget covering
    every distinct token drives all rates to zero."""
    from analyst_toolkit_spark.llm.text import oov_rate

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = oov_rate(docs, vocab_size=v).collect()
    assert len(rows) == len(texts)
    toks = [t for txt in texts for t in txt.lower().split() if t != "!"]
    from collections import Counter

    counts = Counter(toks)
    vocab = set(t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:v])
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        if r["n_tokens"] == 0:
            assert r["oov_rate"] is None
    assert sum(r["n_oov"] for r in rows) == sum(c for t, c in counts.items() if t not in vocab)
    full = oov_rate(docs, vocab_size=max(len(counts), 1)).collect()
    assert all(r["n_oov"] == 0 for r in full)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["spark", "join", "query", "cat", "dog", "x1"]), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
    terms=st.lists(st.sampled_from(["spark", "join", "query", "absent"]), min_size=1, max_size=3, unique=True),
)
@SET
def test_bm25_matches_bruteforce(spark, docs, terms):
    """bm25_scores vs a from-first-principles Python computation on random
    tiny corpora — tf saturation, smooth idf, doc-length normalization, and
    the omit-zero-hit-docs contract all hold for arbitrary term/corpus
    combinations (including terms absent from the corpus)."""
    import math

    from analyst_toolkit_spark.llm.text import bm25_scores

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_scores(sdf, terms).collect()}

    k1, b = 1.2, 0.75
    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    df_t = {t: sum(1 for d in docs if t in d) for t in terms}
    expected = {}
    for i, d in enumerate(docs):
        s = 0.0
        for t in terms:
            tf = d.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(d) / avgdl))
        if s:
            expected[i] = s
    assert set(got) == set(expected)
    for i, exp in expected.items():
        assert got[i] == pytest.approx(round(exp, 6), abs=2e-6), (i, got[i], exp)


# -- r11: Bayardo prefix-filter losslessness ---------------------------------
# Small alphabet forces hub terms (high df) — exactly the regime where the
# old df band silently lost pairs; the prefix filter must stay EXACT.
_words = st.sampled_from(["hub", "alpha", "beta", "gamma", "rare", "word", "x9"])
_doc = st.lists(_words, min_size=1, max_size=8).map(" ".join)


@given(
    docs=st.lists(_doc, min_size=2, max_size=8),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
)
@SET
@pytest.mark.slow  # r16 tier split (default tier: lexical_cosine_pairs oracle row + tfidf tests)
def test_tfidf_cosine_prefix_filter_lossless(spark, docs, threshold):
    import itertools

    from analyst_toolkit_spark.llm.text import tfidf_cosine_pairs

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in tfidf_cosine_pairs(df, threshold=threshold).collect()}
    # brute force over the exact unit tf-idf vectors
    n = len(docs)
    tf = [dict() for _ in docs]
    for i, t in enumerate(docs):
        for w in t.split():
            tf[i][w] = tf[i].get(w, 0) + 1
    dfc = {}
    for bag in tf:
        for w in bag:
            dfc[w] = dfc.get(w, 0) + 1
    vecs = []
    for bag in tf:
        v = {w: c * math.log(1 + n / dfc[w]) for w, c in bag.items()}
        nm = math.sqrt(sum(x * x for x in v.values()))
        vecs.append({w: x / nm for w, x in v.items()})
    want = {}
    for a, b in itertools.combinations(range(n), 2):
        cos = round(sum(vecs[a][w] * vecs[b].get(w, 0.0) for w in vecs[a]), 6)
        if cos >= threshold:
            want[(a, b)] = cos
    assert set(got) == set(want)
    for p, c in want.items():
        assert got[p] == pytest.approx(c, abs=2e-6)


@SET
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),          # group (skew possible)
            st.integers(min_value=-50, max_value=50),  # order value (ties likely)
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=5),
    parts=st.integers(min_value=1, max_value=7),
)
def test_grouped_topk_property_vs_window(spark, rows, k, parts):
    """r12 rewrite (rank on key tuple, payload joins back): grouped_topk ==
    row_number() OVER (PARTITION BY g ORDER BY v DESC, pk DESC) <= k for
    arbitrary group shapes, tie patterns, k, and input partitionings — the
    placement-invariance contract under the new join-back tail."""
    from pyspark.sql.window import Window

    from analyst_toolkit_spark.llm import pack as P

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["g", "pk", "v"]).repartition(parts)
    got = {
        (r["g"], r["rank"]): (r["pk"], r["v"])
        for r in P.grouped_topk(df, k, ["v", "pk"], "g").collect()
    }
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.desc("pk"))
    want = {
        (r["g"], r["rn"]): (r["pk"], r["v"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    }
    assert got == want


@SET
@given(
    toks=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=50),
    n_shards=st.integers(min_value=1, max_value=6),
    parts=st.integers(min_value=1, max_value=7),
)
def test_shard_assign_property(spark, toks, n_shards, parts):
    """r12 shard_assign (balanced): for ARBITRARY token distributions,
    shard counts, and input partitionings — assignments are contiguous in
    id order, every shard's token mass is within one document of the ideal
    total/n, shard ids stay in range, and the assignment equals the plain
    single-node cumsum rule (the oracle arithmetic)."""
    import math

    from analyst_toolkit_spark.llm import pack as P

    data = [(i, "w " * t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(data, ["doc_id", "text"]).repartition(parts)
    got = {
        r["doc_id"]: (r["shard"], r["n_tokens"])
        for r in P.shard_assign(df, n_shards).collect()
    }
    total = sum(toks)
    # single-node reference: shard = floor(start * n / total), clamped
    cum = 0
    for i, t in enumerate(toks):
        if total <= 0:
            want = 0
        else:
            want = min(n_shards - 1, math.floor(cum * n_shards / total))
        assert got[i] == (want, t), (i, got[i], want)
        cum += t
    ordered = [got[i][0] for i in range(len(toks))]
    assert ordered == sorted(ordered)  # contiguity
    per: dict[int, int] = {}
    for i, t in enumerate(toks):
        per[got[i][0]] = per.get(got[i][0], 0) + t
    if total > 0:
        ideal = total / n_shards
        assert all(abs(v - ideal) <= max(toks) for v in per.values())
