"""Property-based invariants (hypothesis) for the cleanse casts and the
upsert/SCD2 algebra — small random inputs, engine-level guarantees:
guarded casts never throw and match a reference implementation; merge
upsert is idempotent and key-unique; SCD2 keeps exactly one current
version per key."""

from __future__ import annotations

import datetime
import re
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# Strings that hit the interesting regions of the cast regexes.
_casty = st.one_of(
    st.text(max_size=12),
    st.from_regex(r"\d{2,4}-\d{1,2}-\d{1,2}", fullmatch=True),
    st.from_regex(r"\d{1,6}(\.\d{1,4})?", fullmatch=True),
    st.just(""),
    st.none(),
)


def _ref_date(s):
    # re.ASCII: Java/Spark regex \\d is ASCII-only, Python's is Unicode
    if s is None or not re.fullmatch(r"\d{4}-\d{2}-\d{2}", s, re.ASCII):
        return None
    try:
        return datetime.date.fromisoformat(s)
    except ValueError:
        return None


def _ref_decimal(s):
    if s is None or not re.fullmatch(r"\d+(\.\d+)?", s, re.ASCII):
        return None
    d = Decimal(s).quantize(Decimal("0.01"))
    # DecimalType(10,2): overflow -> NULL (Spark non-ANSI)
    return None if d >= Decimal("100000000") else d


@PROP
@given(vals=st.lists(_casty, min_size=1, max_size=12))
def test_guarded_casts_total_and_match_reference(spark, vals):
    from _event_intelligence_data_warehouse_spark.functions.cleanse import (
        guarded_date,
        guarded_decimal,
    )

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select(
        "s",
        guarded_date("s").alias("d"),
        guarded_decimal("s").alias("m"),
    ).collect()
    for r in rows:
        assert r.d == _ref_date(r.s), (r.s, r.d)
        assert r.m == _ref_decimal(r.s), (r.s, r.m)


_key = st.integers(min_value=0, max_value=5)
_val = st.integers(min_value=0, max_value=99)


@PROP
@given(
    existing=st.dictionaries(_key, _val, max_size=6),
    incoming=st.dictionaries(_key, _val, max_size=6),
)
def test_merge_upsert_idempotent_and_key_unique(spark, existing, incoming):
    from _event_intelligence_data_warehouse_spark.operators.upsert import (
        merge_upsert,
    )

    schema = "k long, v long, sk long"
    ex = spark.createDataFrame(
        [(k, v, 1000 + k) for k, v in existing.items()], schema
    )
    inc = spark.createDataFrame(
        [(k, v, -1) for k, v in incoming.items()], schema
    )
    once = merge_upsert(ex, inc, ["k"], preserve=["sk"])
    twice = merge_upsert(once, inc, ["k"], preserve=["sk"])

    def img(df):
        return sorted((r.k, r.v, r.sk) for r in df.collect())

    assert img(once) == img(twice)  # idempotent
    keys = [r.k for r in once.select("k").collect()]
    assert len(keys) == len(set(keys))  # key-unique
    # matched rows keep the existing surrogate key
    for k, v, sk in img(once):
        if k in existing:
            assert sk == 1000 + k
        else:
            assert sk == -1
        assert v == (incoming[k] if k in incoming else existing[k])


@PROP
@given(
    batches=st.lists(
        st.dictionaries(_key, st.sampled_from(["a", "b", "c"]), max_size=4),
        min_size=1,
        max_size=4,
    )
)
def test_scd2_single_current_version_per_key(spark, batches):
    from _event_intelligence_data_warehouse_spark.operators.scd2 import (
        scd2_apply,
    )

    schema = (
        "venue_sk long, nk string, attr string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean"
    )
    table = spark.createDataFrame([], schema)
    for i, batch in enumerate(batches):
        inc = spark.createDataFrame(
            [(str(k), v) for k, v in batch.items()], "nk string, attr string"
        )
        ts = F.lit(f"2026-01-{i + 1:02d} 00:00:00").cast("timestamp")
        table = scd2_apply(
            table,
            inc,
            nk="nk",
            attrs=["attr"],
            sk_col="venue_sk",
            effective_ts=ts,
        ).localCheckpoint()

    rows = table.collect()
    seen_keys = {str(k) for b in batches for k in b}
    current = [r for r in rows if r.is_current]
    # exactly one current version per ever-seen key
    assert sorted(r.nk for r in current) == sorted(seen_keys)
    # closed versions all carry a close timestamp; current ones never do
    for r in rows:
        assert (r.valid_to is None) == bool(r.is_current)
    # the current attr equals the last batch value that mentioned the key
    last = {}
    for b in batches:
        for k, v in b.items():
            last[str(k)] = v
    assert {r.nk: r.attr for r in current} == last


# ---------------------------------------------------------------------------
# Round-2 invariants
# ---------------------------------------------------------------------------

_event_streams = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # user
        st.integers(min_value=0, max_value=200_000),  # seconds offset
    ),
    min_size=1,
    max_size=40,
)


@PROP
@given(events=_event_streams)
def test_sessionize_partitions_events_exactly(spark, events):
    """Every event lands in exactly one session; session event counts sum
    to the input; per-user sessions are disjoint and separated by more
    than the gap."""
    from _event_intelligence_data_warehouse_spark.streaming.windows import (
        sessionize,
    )

    base = 1_700_000_000
    rows = [
        (i, u, datetime.datetime.utcfromtimestamp(base + off), 1.0)
        for i, (u, off) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = sessionize(df, gap_minutes=30).collect()
    assert sum(r["n_events"] for r in out) == len(rows)
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for sess in by_user.values():
        sess.sort(key=lambda r: r["session_start"])
        for r in sess:
            assert r["session_start"] <= r["session_end"]
        for a, b in zip(sess, sess[1:]):
            gap = (b["session_start"] - a["session_end"]).total_seconds()
            assert gap > 1800, "adjacent sessions closer than the gap"


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=120),
        min_size=1,
        max_size=8,
    )
)
def test_chunking_tiles_every_token(spark, texts):
    """Chunks cover all tokens: starts advance by chunk-overlap, the last
    chunk reaches the end, and no chunk is empty."""
    from _event_intelligence_data_warehouse_spark.operators.text import (
        chunk_documents,
        tokens,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n_tok = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", F.size(tokens("text")).alias("n")).collect()
    }
    out = chunk_documents(df, chunk_tokens=8, overlap=3)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, n in n_tok.items():
        chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r["start_token"])
        if n == 0:
            assert not chunks
            continue
        assert chunks, f"doc {doc_id} with {n} tokens produced no chunks"
        assert [c["start_token"] for c in chunks] == list(range(1, n + 1, 5))
        last = chunks[-1]
        assert last["start_token"] + last["n_chunk_tokens"] - 1 == n, (
            "final chunk does not reach the last token"
        )
        for c in chunks:
            assert 1 <= c["n_chunk_tokens"] <= 8


@PROP
@given(
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=4,
    ),
    budget=st.integers(min_value=1, max_value=5_000),
    counts=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            st.integers(min_value=1, max_value=30),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_mixture_plan_invariants(spark, weights, budget, counts):
    """For any weights/budget/corpus: rates stay in [0, 1M]; the sum of
    targets never exceeds the budget (floor division only loses); a
    zero-weight source always gets rate 0; and a rate of 1M means the
    target covered the source's whole supply."""
    from _event_intelligence_data_warehouse_spark.operators import sampling as smp

    rows = [
        (i, src, "t " * ntok)
        for i, (src, ntok) in enumerate(counts)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plan = smp.mixture_plan(docs, weights, budget).collect()
    assert sum(r.target_tokens for r in plan if r.weight > 0) <= budget * len(
        plan
    )  # per-source target <= budget each; total bound below
    for r in plan:
        assert 0 <= r.rate_ppm <= 1_000_000
        assert r.target_tokens <= budget
        if r.weight == 0:
            assert r.rate_ppm == 0 and r.target_tokens == 0
        if r.rate_ppm == 1_000_000:
            assert r.target_tokens >= r.n_tokens
        if r.weight > 0 and r.rate_ppm < 1_000_000:
            # fractional rate reproduces floor(target*1M/supply)
            assert r.rate_ppm == (r.target_tokens * 1_000_000) // r.n_tokens


@PROP
@given(
    toks=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=14,
    ),
    seq_len=st.integers(min_value=2, max_value=64),
)
def test_pack_sequences_offsets_tile_the_stream(spark, toks, seq_len):
    """Per shard, in id order: each doc starts exactly where its
    predecessor ended (offsets tile the concatenated stream with no gap
    or overlap), and bin/offset are the exact div/mod of the start."""
    from _event_intelligence_data_warehouse_spark.operators import text as tx

    rows = [
        (i, shard, "w " * n) for i, (shard, n) in enumerate(toks)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sorted(
        tx.pack_sequences(df, seq_len).collect(),
        key=lambda r: (r.shard, r.doc_id),
    )
    expected_start = {}
    for r in out:
        assert r.start_token == expected_start.get(r.shard, 0)
        expected_start[r.shard] = r.start_token + r.n_tokens
        assert r.bin_id == r.start_token // seq_len
        assert r.bin_offset == r.start_token % seq_len


# -- round-4 curation operators --------------------------------------------

_line = st.text(
    alphabet="ab c", min_size=0, max_size=8
)
_doc_lines = st.lists(_line, min_size=1, max_size=6)


@PROP
@given(docs=st.lists(_doc_lines, min_size=1, max_size=8),
       min_df=st.integers(min_value=1, max_value=4))
def test_boilerplate_filter_partitions_lines(spark, docs, min_df):
    """For every document: n_lines = original line count, n_removed +
    kept lines = n_lines, kept lines appear in original order, and a
    line is removed iff its normalized form's document frequency is
    >= min_df."""
    from _event_intelligence_data_warehouse_spark.operators import text as tx

    rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.boilerplate_line_filter(df, min_df=min_df).collect()
    }

    def norm(line):
        return re.sub(r"\s+", " ", line.lower()).strip()

    dfreq: dict[str, set] = {}
    for i, ls in enumerate(docs):
        for line in ls:
            if norm(line):
                dfreq.setdefault(norm(line), set()).add(i)
    boiler = {k for k, v in dfreq.items() if len(v) >= min_df}

    for i, ls in enumerate(docs):
        want_kept = [l for l in ls if norm(l) not in boiler]
        got = out[i]
        assert got.n_lines == len(ls)
        assert got.n_removed == len(ls) - len(want_kept)
        assert got.clean_text == "\n".join(want_kept)


_word = st.text(alphabet="ab", min_size=1, max_size=4)


@PROP
@given(texts=st.lists(
    st.lists(_word, min_size=0, max_size=10).map(" ".join),
    min_size=1, max_size=6,
))
def test_bpe_pair_counts_match_direct_enumeration(spark, texts):
    from collections import Counter

    from _event_intelligence_data_warehouse_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.pair: r.pair_count
        for r in tx.bpe_pair_stats(df, top_n=1000).collect()
    }
    want: Counter = Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+", t.lower()):
            for i in range(len(w) - 1):
                want[w[i:i + 2]] += 1
    assert got == dict(want)


@PROP
@given(
    keys=st.lists(st.text(min_size=0, max_size=6), min_size=1, max_size=30),
    probes=st.lists(st.text(min_size=0, max_size=6), min_size=1, max_size=30),
)
def test_bloom_probe_never_false_negative(spark, keys, probes):
    from _event_intelligence_data_warehouse_spark.operators import (
        sketches as sk,
    )

    kdf = spark.createDataFrame([(k,) for k in set(keys)], "k string")
    bloom = sk.bloom_build(kdf, "k")
    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probes)], "pid long, k string"
    )
    got = {
        r.pid: r.maybe_present
        for r in sk.bloom_probe(pdf, "k", bloom, id_col="pid").collect()
    }
    for i, p in enumerate(probes):
        if p in set(keys):
            assert got[i] == 1, "Bloom false negative"


@PROP
@given(
    shared=st.lists(_word, min_size=10, max_size=12).map(" ".join),
    tails=st.lists(
        st.lists(st.text(alphabet="xyz", min_size=1, max_size=4),
                 min_size=0, max_size=6).map(" ".join),
        min_size=2, max_size=4,
    ),
)
def test_duplicate_spans_are_within_bounds_and_disjoint(spark, shared, tails):
    """Spans lie inside each doc's token range, never overlap, and every
    doc containing the shared >=10-token prefix reports a span starting
    at 0."""
    from _event_intelligence_data_warehouse_spark.operators import dedup as dd
    from _event_intelligence_data_warehouse_spark.operators.text import tokens

    rows = [(i, (shared + " " + t).strip()) for i, t in enumerate(tails)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_toks = {
        r.doc_id: r.n
        for r in df.select("doc_id", F.size(tokens(F.col("text")))
                           .alias("n")).collect()
    }
    spans: dict[int, list] = {}
    for r in dd.duplicate_text_spans(df, n=10, min_docs=2).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for i in range(len(tails)):
        assert i in spans, "doc with shared prefix reported no span"
        ss = sorted(spans[i])
        assert ss[0][0] == 0
        for (a1, b1), (a2, b2) in zip(ss, ss[1:]):
            assert b1 < a2, "overlapping spans not merged"
        for a, b in ss:
            assert 0 <= a < b <= n_toks[i]


# -- copy-on-write DML vs the DataFrame reference semantics ---------------

_dml_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=400),
        st.sampled_from(["a", "b", "c"]),
        st.one_of(st.none(), st.floats(
            min_value=-100, max_value=100, allow_nan=False, width=32
        )),
    ),
    min_size=1, max_size=25, unique_by=lambda t: t[0],
)


@PROP
@given(rows=_dml_rows, lo=st.integers(0, 400), span=st.integers(0, 200))
def test_delete_where_matches_filter_semantics(
    spark, tmp_path_factory, rows, lo, span
):
    """delete_where == read().filter(NOT coalesce(pred, False)) for any
    table content and range predicate, including NULL columns."""
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("dmlprop")))
    df = spark.createDataFrame(rows, "id long, g string, score double")
    # several snapshots so pruning has file boundaries to work with
    wh.append("t", df.filter(F.col("id") < 200))
    wh.append("t", df.filter(F.col("id") >= 200))
    hi = lo + span
    want = sorted(
        (r.id, r.g, r.score)
        for r in df.filter(
            ~((F.col("id") >= lo) & (F.col("id") < hi))
        ).collect()
    )
    res = wh.delete_where("t", [("id", ">=", lo), ("id", "<", hi)])
    got = sorted((r.id, r.g, r.score) for r in wh.read("t").collect())
    assert got == want
    assert res["rows_deleted"] == len(rows) - len(want)


@PROP
@given(
    base=_dml_rows,
    src=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["x", "y"]),
            st.floats(min_value=-5, max_value=5, allow_nan=False,
                      width=32),
        ),
        min_size=0, max_size=15, unique_by=lambda t: t[0],
    ),
)
def test_merge_into_matches_upsert_semantics(
    spark, tmp_path_factory, base, src
):
    """merge_into == anti-join survivors + source, for any base/source."""
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("mergeprop")))
    bdf = spark.createDataFrame(base, "id long, g string, score double")
    sdf = spark.createDataFrame(src, "id long, g string, score double")
    wh.append("t", bdf)
    res = wh.merge_into("t", sdf, ["id"])
    want = sorted(
        (r.id, r.g, r.score)
        for r in bdf.join(sdf, "id", "left_anti").unionByName(sdf).collect()
    )
    got = sorted((r.id, r.g, r.score) for r in wh.read("t").collect())
    assert got == want
    if src:
        src_ids = {t[0] for t in src}
        base_ids = {t[0] for t in base}
        assert res["rows_matched"] == len(src_ids & base_ids)
        assert res["rows_inserted"] == len(src_ids - base_ids)


@PROP
@given(
    sizes=st.lists(st.integers(1, 60), min_size=1, max_size=6),
    budget=st.integers(1, 120),
)
def test_allocate_stratified_budget_exact(
    spark, sizes, budget
):
    """Largest-remainder quotas sum to exactly min(budget, N) for any
    strata shape, and membership is within-stratum deterministic."""
    from _event_intelligence_data_warehouse_spark.operators import (
        sampling as smp,
    )

    rows = [
        (g * 1000 + i, f"g{g}")
        for g, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, g string")
    n_total = sum(sizes)
    out = smp.allocate_stratified(
        df, ["g"], min(budget, n_total), tiebreak_col="id"
    )
    assert out.count() == min(budget, n_total)


# -- late-round-4 operator invariants -------------------------------------

_ctexts = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=1, max_size=12,
    ).map(" ".join),
    min_size=2, max_size=8,
)


@PROP
@given(texts=_ctexts)
def test_containment_bounds_and_jaccard_relation(spark, texts):
    """For every emitted pair: 0 < containment <= 1 and
    jaccard <= min(containment_a_in_b, containment_b_in_a)."""
    from _event_intelligence_data_warehouse_spark.operators import (
        dedup as dd2,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = dd2.containment_pairs(
        df, threshold=0.5, bands=32
    ).collect()
    for r in rows:
        assert 0 < r.containment_a_in_b <= 1.0
        assert 0 < r.containment_b_in_a <= 1.0
        assert r.jaccard <= min(
            r.containment_a_in_b, r.containment_b_in_a
        ) + 1e-12
        assert max(r.containment_a_in_b, r.containment_b_in_a) >= 0.5


@PROP
@given(
    words=st.lists(
        st.text(alphabet="abct", min_size=1, max_size=8),
        min_size=1, max_size=10,
    ),
    n_merges=st.integers(0, 4),
)
def test_bpe_encode_monotone_in_merges(spark, words, n_merges):
    """Zero merges tokenizes to characters exactly; every added merge
    can only reduce (never increase) the token count."""
    from _event_intelligence_data_warehouse_spark.operators import (
        text as tx2,
    )

    merge_ladder = [("a", "b"), ("ab", "c"), ("c", "a"), ("t", "t")]
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    prev = None
    for k in range(n_merges + 1):
        got = tx2.bpe_encode_stats(df, merge_ladder[:k]).collect()
        if not got:  # no [a-z]+ words in the text
            return
        r = got[0]
        if k == 0:
            assert r.n_tokens == r.n_chars
        if prev is not None:
            assert r.n_tokens <= prev
        prev = r.n_tokens


@PROP
@given(
    vals=st.lists(
        st.integers(-1000, 1000), min_size=1, max_size=30
    )
)
def test_group_percentile_bounds_and_monotonicity(spark, vals):
    from _event_intelligence_data_warehouse_spark.operators import (
        sampling as smp,
    )

    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)],
        "id long, g string, score long",
    )
    rows = smp.group_percentile(
        df, "score", ["g"], tiebreak_col="id"
    ).collect()
    by_rank = sorted(rows, key=lambda r: (r.score, r.id))
    last = -1.0
    for r in by_rank:
        assert 0.0 <= r.pct_rank <= 1.0
        assert r.pct_rank >= last
        last = r.pct_rank
    assert by_rank[0].pct_rank == 0.0
    if len(vals) > 1:
        assert by_rank[-1].pct_rank == 1.0


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-1000, 1000), st.integers(-1000, 1000),
            st.integers(-1000, 1000),
        ),
        min_size=2, max_size=30,
    )
)
def test_correlation_matrix_bounds_and_symmetry_inputs(spark, rows):
    """corr is always in [-1, 1] (or NULL for zero variance), n_rows is
    the full null-free count, and scaling invariance holds: int_scale=0
    over integers equals numpy's corrcoef to double precision."""
    import math

    import numpy as np

    from _event_intelligence_data_warehouse_spark.operators import text as tx

    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in rows],
        "x double, y double, z double",
    )
    out = tx.numeric_correlations(df, ["x", "y", "z"], int_scale=0).collect()
    assert len(out) == 3
    arr = np.array(rows, dtype=float)
    for r in out:
        assert r.n_rows == len(rows)
        i = {"x": 0, "y": 1, "z": 2}
        a, b = arr[:, i[r.col_a]], arr[:, i[r.col_b]]
        if np.std(a) == 0 or np.std(b) == 0:
            assert r.corr is None
        else:
            assert -1.0 - 1e-12 <= r.corr <= 1.0 + 1e-12
            want = np.corrcoef(a, b)[0, 1]
            assert math.isclose(r.corr, want, rel_tol=0, abs_tol=1e-9)


@PROP
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 9),      # day offset
            st.sampled_from(["a", "b", "c"]),
            st.integers(0, 5),      # user
        ),
        min_size=1, max_size=40,
    )
)
def test_gapfill_spine_dense_and_totals_preserved(spark, events):
    """The filled frame is a DENSE (key, day) grid over the span, row
    totals are preserved exactly, and is_gap marks exactly the zero
    rows."""
    import datetime as dt

    from _event_intelligence_data_warehouse_spark.operators import (
        timeseries as tss,
    )

    rows = [
        (i, dt.datetime(2024, 3, 1 + d, 12), u, k)
        for i, (d, k, u) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = tss.gapfill_daily(df).collect()
    days = {r[1].date() for r in rows}
    span = (max(days) - min(days)).days + 1
    keys = {r[3] for r in rows}
    assert len(out) == span * len(keys)
    assert sum(r.n_events for r in out) == len(rows)
    for r in out:
        assert r.is_gap == (r.n_events == 0)
        assert r.n_users <= r.n_events


@PROP
@given(
    n=st.integers(0, 300),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_total(spark, n, ch, rate, seed):
    """encode->decode is the identity for ANY int16 signal shape,
    including zero-length clips."""
    import numpy as np

    from _event_intelligence_data_warehouse_spark.operators import (
        multimodal as mm,
    )

    rng = np.random.default_rng(seed)
    a = rng.integers(-32768, 32767, size=(n, ch), dtype=np.int16)
    arr, r = mm.decode_wav(mm.encode_wav(a, rate))
    assert r == rate and arr.shape == (n, ch)
    assert np.array_equal(arr, a)


@PROP
@given(junk=st.binary(max_size=200))
def test_codec_parsers_reject_garbage_loudly(spark, junk):
    """Arbitrary bytes never crash the parsers with anything but
    ValueError — no silent partial decode, no index errors leaking."""
    from _event_intelligence_data_warehouse_spark.operators import (
        multimodal as mm,
    )

    for fn in (mm.decode_wav, mm.decode_ppm, mm.decode_ppm_stream):
        try:
            out = fn(junk)
        except ValueError:
            continue
        except Exception as e:  # noqa: BLE001
            raise AssertionError(
                f"{fn.__name__} leaked {type(e).__name__} on garbage"
            ) from e
        # decode_ppm_stream legitimately returns [] for empty input
        assert junk[:4] in (b"RIFF",) or junk[:2] in (b"P6", b"P5") or (
            out == [] and junk == b""
        ), f"{fn.__name__} accepted garbage"


# ---- late-round-5 enrichment invariants -------------------------------

_edges = st.lists(
    st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=14,
    unique=True,
)


@PROP
@given(edges=_edges, iters=st.integers(0, 4))
def test_pagerank_matches_pure_python_on_random_graphs(spark, edges, iters):
    """The distributed recurrence equals the single-threaded reference
    on arbitrary small graphs (dangling nodes, multi-components, cycles
    all arise from the strategy) — and total mass never exceeds PPB."""
    from tests.test_enrichment import PPB, _pagerank_ref
    from _event_intelligence_data_warehouse_spark.operators import graph as g

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node_id: r.rank_ppb
        for r in g.pagerank(df, iterations=iters, damping_pct=85).collect()
    }
    assert got == _pagerank_ref(edges, iters, 85)
    assert 0 < sum(got.values()) <= PPB


@PROP
@given(
    base=st.integers(0, (1 << 60) - 1),
    flips=st.lists(st.integers(0, 59), min_size=0, max_size=3, unique=True),
)
def test_phash_pigeonhole_recall_on_random_flips(spark, base, flips):
    """ANY <= n_bands-1 bit flips must be recovered by the banded join
    (the pigeonhole guarantee the operator's default radius pins)."""
    from _event_intelligence_data_warehouse_spark.operators import (
        multimodal as mm,
    )

    other = base
    for b in flips:
        other ^= 1 << b
    df = spark.createDataFrame(
        [(0, base), (1, other)], "media_id long, dhash long"
    )
    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in mm.phash_near_dups(df, max_hamming=3).collect()
    }
    assert pairs.get((0, 1)) == len(flips) or (
        len(flips) == 0 and pairs.get((0, 1)) == 0
    )


@PROP
@given(
    cents=st.lists(st.integers(0, 10_000), min_size=1, max_size=40),
    b=st.integers(1, 6),
)
def test_bootstrap_replicate_means_are_weight_consistent(spark, cents, b):
    """Each replicate's mean_micro equals the floor-divided weighted
    mean recomputed in pure Python from the SAME deterministic weights
    — the draw is a pure function of (id, replicate)."""
    import hashlib

    from _event_intelligence_data_warehouse_spark.operators import (
        sampling as sp,
    )

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "k long, cents long"
    )
    out = {
        r.replicate: (r.n_eff, r.mean_micro)
        for r in sp.bootstrap_mean_replicates(
            df, "k", F.col("cents"), n_replicates=b
        ).collect()
    }

    def w(i, r):
        u = int(
            hashlib.md5(f"{i}|{r}".encode()).hexdigest()[:8], 16
        ) % 1_000_000
        for t, wt in zip(sp.POISSON1_PPM, (0, 1, 2, 3)):
            if u < t:
                return wt
        return 4

    for r in range(b):
        n_eff = sum(w(i, r) for i in range(len(cents)))
        if n_eff == 0:
            assert r not in out
            continue
        wsum = sum(w(i, r) * c for i, c in enumerate(cents))
        assert out[r] == (n_eff, wsum * 10000 // n_eff)


@PROP
@given(
    names=st.lists(
        st.sampled_from(
            ["red ring", "red rng", "blue ring", "blue bolt", "blu bolt",
             "huge gear", "tiny gear", "x"]
        ),
        min_size=2, max_size=8, unique=True,
    ),
    maxd=st.integers(1, 5),
)
def test_fuzzy_pairs_equal_bruteforce_within_blocks(spark, names, maxd):
    """The blocked join returns EXACTLY the brute-force levenshtein
    pairs restricted to equal last tokens (no cap at this size)."""
    import itertools

    from _event_intelligence_data_warehouse_spark.operators import graph as g

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rows = list(enumerate(names))
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in g.fuzzy_blocked_pairs(
            df, id_col="id", name_col="name", max_distance=maxd
        ).collect()
    }
    want = {}
    for (i, a), (j, b_) in itertools.combinations(rows, 2):
        if a.split()[-1] != b_.split()[-1]:
            continue
        d = lev(a, b_)
        if d <= maxd:
            want[(min(i, j), max(i, j))] = d
    assert got == want


# --- recurrence folds: random series vs pure-Python replay ------------

_series = st.lists(
    st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40
)


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // b
    return q if a >= 0 else -q


@PROP
@given(ys=_series)
def test_prop_ewma_fold_equals_python(spark, ys):
    from _event_intelligence_data_warehouse_spark.operators import (
        timeseries as ts,
    )

    df = spark.createDataFrame(
        [("k", i, y) for i, y in enumerate(ys)],
        "k string, d long, y long",
    )
    got = {
        r.d: r.ewma_milli
        for r in ts.ewma(df, ["k"], "d", "y").collect()
    }
    s = None
    for i, y in enumerate(ys):
        ppb = y * 10**9
        s = ppb if s is None else (ppb + 3 * s) // 4
        assert got[i] == s // 10**6


@PROP
@given(ys=_series)
def test_prop_holt_fold_equals_python(spark, ys):
    from _event_intelligence_data_warehouse_spark.operators import (
        timeseries as ts,
    )

    df = spark.createDataFrame(
        [("k", i, y) for i, y in enumerate(ys)],
        "k string, d long, y long",
    )
    got = {
        (r.d): (r.level_milli, r.trend_milli, r.forecast_milli)
        for r in ts.holt_linear(df, ["k"], "d", "y").collect()
    }
    l = b = None
    for i, y in enumerate(ys):
        ppb = y * 10**9
        if l is None:
            l, b = ppb, 0
        else:
            nl = _tdiv(ppb + 3 * (l + b), 4)
            b = _tdiv((nl - l) + 7 * b, 8)
            l = nl
        assert got[i] == (
            _tdiv(l, 10**6), _tdiv(b, 10**6), _tdiv(l + b, 10**6)
        )


@PROP
@given(ys=st.lists(st.integers(min_value=0, max_value=10**6),
                   min_size=2, max_size=40))
def test_prop_cusum_fold_equals_python(spark, ys):
    from _event_intelligence_data_warehouse_spark.operators import (
        timeseries as ts,
    )

    df = spark.createDataFrame(
        [("k", i, y) for i, y in enumerate(ys)],
        "k string, d long, y long",
    )
    got = {
        r.d: (r.cusum_hi_milli, r.cusum_lo_milli, r.drift_flag)
        for r in ts.cusum(df, ["k"], "d", "y").collect()
    }
    mean_ppb = sum(ys) * 10**9 // len(ys)
    k = mean_ppb * 5 // 100
    hi = lo = 0
    for i, y in enumerate(ys):
        ppb = y * 10**9
        hi = max(0, hi + ppb - mean_ppb - k)
        lo = max(0, lo + mean_ppb - ppb - k)
        assert got[i] == (
            hi // 10**6, lo // 10**6, hi > mean_ppb or lo > mean_ppb
        )


@PROP
@given(
    a=st.lists(st.integers(0, 10**6), min_size=1, max_size=40),
    b=st.lists(st.integers(0, 10**6), min_size=1, max_size=40),
)
def test_kmv_sketch_matches_pure_python_bottom_k(spark, a, b):
    """KMV registers are exactly the k smallest distinct 60-bit md5
    hashes; merge is the bottom-k of the union; the under-filled
    estimator is the exact distinct count."""
    import hashlib

    from _event_intelligence_data_warehouse_spark.operators import (
        sketches as sk,
    )

    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    k = 8
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    ska = sk.kmv_sketch(da, "v", k=k, n_salts=4)
    skb = sk.kmv_sketch(db, "v", k=k, n_salts=4)
    want_a = sorted({h60(v) for v in a})[:k]
    want_b = sorted({h60(v) for v in b})[:k]
    assert sorted(r.hv for r in ska.collect()) == want_a
    assert sorted(r.hv for r in skb.collect()) == want_b
    sku = sk.kmv_merge(ska, skb, k=k)
    assert (
        sorted(r.hv for r in sku.collect())
        == sorted(set(want_a) | set(want_b))[:k]
    )
    stats = sk.kmv_stats(ska, "a")
    est = stats.select(
        sk.kmv_estimate_expr("a_cnt", "a_kth", k=k).alias("e")
    ).collect()[0].e
    n_distinct = len({h60(v) for v in a})
    if n_distinct < k:
        assert est == n_distinct
    else:
        kth = want_a[k - 1]
        assert est == (k - 1) * (1 << 60) // kth


@PROP
@given(
    vecs=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=6, max_size=14,
    ),
)
def test_mmr_rerank_matches_pure_python_greedy(spark, vecs):
    """The unrolled MMR selection equals a reference greedy replay on
    exact integer inner products (lambda=0.7 as 7/3 scaled scores,
    ties to the smaller id)."""
    from _event_intelligence_data_warehouse_spark import cache
    from _event_intelligence_data_warehouse_spark.operators import (
        similarity as sim,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") < 2)
    k_c, k_s = 5, 3
    try:
        got = {
            (r.query_id, r.mmr_rank): r.neighbor_id
            for r in sim.mmr_rerank(
                df, queries, k_candidates=k_c, k_select=k_s
            ).collect()
        }
    finally:
        cache.release_all()

    iv = {i: [round(x * 1_000_000) for x in v] for i, v in rows}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    for qid in range(min(2, len(vecs))):
        rel = sorted(
            ((dot(iv[qid], iv[c]), -c) for c in iv if c != qid),
            reverse=True,
        )[:k_c]
        cands = {-negc: r for r, negc in rel}
        picked = []
        first = max(cands.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        picked.append(first)
        while len(picked) < min(k_s, len(cands)):
            best = None
            for c, r in cands.items():
                if c in picked:
                    continue
                ms = max(dot(iv[c], iv[s]) for s in picked)
                score = 7 * r - 3 * ms
                key = (score, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            picked.append(best[1])
        for rank, c in enumerate(picked, start=1):
            assert got.get((qid, rank)) == c, (
                qid, rank, got.get((qid, rank)), c
            )


@given(
    ys=st.lists(st.integers(min_value=0, max_value=10_000),
                min_size=3, max_size=40),
    b=st.integers(min_value=1, max_value=6),
)
@PROP
def test_lttb_structural_invariants(spark, ys, b):
    """LTTB downsample invariants on arbitrary integer series: both
    endpoints always survive (buckets -1 and n_buckets), exactly one
    point per non-empty interior bucket, every output point is an
    input point, and output size is min(n, occupied_buckets + 2)."""
    from _event_intelligence_data_warehouse_spark.operators import (
        timeseries as ts,
    )

    rows = [(i, y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = ts.lttb_downsample(df, n_buckets=b).collect()
    pts = dict(rows)
    by_bucket = {}
    for r in out:
        assert pts[r.x] == r.y                      # outputs are inputs
        by_bucket.setdefault(r.bucket, []).append(r.x)
    assert by_bucket[-1] == [0]                     # first endpoint
    assert by_bucket[b] == [len(ys) - 1]            # last endpoint
    for bk, xs in by_bucket.items():
        assert len(xs) == 1, f"bucket {bk} picked {xs}"
    # interior buckets partition ranks 2..n-1: occupied count is
    # min(b, n-2), so total output is that + the two endpoints
    assert len(out) == min(b, len(ys) - 2) + 2


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd d", ""]),
                 min_size=1, max_size=5),
        min_size=1, max_size=8,
    ),
)
@PROP
def test_global_line_dedup_invariants(spark, docs):
    """On arbitrary small corpora: (1) the total of n_lines_kept equals
    the number of DISTINCT lines in the corpus — every distinct line
    survives exactly once globally; (2) each doc's rebuilt_md5 matches
    a pure-Python replay of first-occurrence filtering in (doc_id,
    pos) order; (3) docs whose lines all occurred earlier are absent."""
    import hashlib

    from _event_intelligence_data_warehouse_spark.operators import dedup as dd

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dd.global_line_dedup(df).collect()}

    seen: set[str] = set()
    expect: dict[int, list[str]] = {}
    for i, lines in enumerate(docs):
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        if kept:
            expect[i] = kept
    assert set(out) == set(expect)
    assert sum(r.n_lines_kept for r in out.values()) == len(seen)
    for i, kept in expect.items():
        assert out[i].n_lines_kept == len(kept)
        assert out[i].rebuilt_md5 == hashlib.md5(
            "\n".join(kept).encode()
        ).hexdigest(), (i, kept)


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-3, max_value=3),
                 min_size=3, max_size=3).filter(lambda v: any(v)),
        min_size=1, max_size=8,
    ),
    cents=st.lists(
        st.lists(st.integers(min_value=-3, max_value=3),
                 min_size=3, max_size=3).filter(lambda v: any(v)),
        min_size=1, max_size=5,
    ),
)
@PROP
def test_rank_cells_matches_python_ranking(spark, vecs, cents):
    """The r8 single-projection rank_cells (broadcast model +
    sort_array) must rank exactly like the window it replaced:
    cosine DESC, cell ASC on ties — checked against a pure-Python
    replay on small integer vectors, duplicate centroids included
    (ties exercise the -cell descending trick). Zero vectors are
    outside the operator's domain (cosine undefined; ANSI division
    raises, exactly as the replaced window formulation did)."""
    import math

    from _event_intelligence_data_warehouse_spark.operators import (
        similarity as sim,
    )

    vdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, v array<double>",
    )
    cdf = spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(cents)],
        "cell long, centroid array<double>",
    )
    got = {
        (r.vec_id, r.cell_rank): r.cell
        for r in sim.rank_cells(vdf, cdf).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else float("nan")

    for i, v in enumerate(vecs):
        sims = [(cos(v, c), j) for j, c in enumerate(cents)]
        # NaN ranks first (Spark float total order: NaN largest),
        # then sim DESC, then cell ASC
        order = sorted(
            sims,
            key=lambda t: (
                0 if math.isnan(t[0]) else 1,
                -(t[0] if not math.isnan(t[0]) else 0.0),
                t[1],
            ),
        )
        for rank, (_, j) in enumerate(order, start=1):
            assert got[(i, rank)] == j, (i, rank, got[(i, rank)], j, sims)


_doc_text = st.lists(
    st.from_regex(r"[a-z]{1,6}", fullmatch=True), min_size=0, max_size=40
).map(" ".join)


@PROP
@given(
    docs=st.lists(
        st.tuples(_doc_text, st.sampled_from(["s1", "s2", "s3"]),
                  st.booleans()),
        min_size=1,
        max_size=14,
    ),
    seq_len=st.sampled_from([3, 7, 16]),
)
def test_loss_mask_spans_tile_exactly(spark, docs, seq_len):
    """For ANY corpus and seq_len, the spans tile each document's
    packed token range exactly (per-doc span_len sums == token count),
    every span sits inside its bin, and within a shard the spans cover
    [0, shard_total) with no gap or overlap."""
    from _event_intelligence_data_warehouse_spark.operators import (
        text as tx,
    )

    rows = [(i, t, s, 1 if m else 0) for i, (t, s, m) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, keep long"
    )
    out = tx.pack_loss_mask_spans(df, seq_len, mask_col="keep").collect()
    n_tok = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id",
            F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                            lambda x: x != "")).alias("n"),
        ).collect()
    }
    per_doc: dict[int, int] = {}
    per_shard: dict[str, int] = {}
    for r in out:
        assert 0 <= r["span_start"] < seq_len
        assert 0 < r["span_len"] <= seq_len
        assert r["span_start"] + r["span_len"] <= seq_len
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["span_len"]
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + r["span_len"]
    for i, n in n_tok.items():
        assert per_doc.get(i, 0) == max(n, 0)
    # shard coverage: total spans == total tokens of the shard
    want_shard: dict[str, int] = {}
    for i, (t, s, m) in enumerate(docs):
        want_shard[s] = want_shard.get(s, 0) + n_tok[i]
    for s, tot in want_shard.items():
        assert per_shard.get(s, 0) == tot


_pii_piece = st.one_of(
    st.from_regex(r"[a-z]{1,8}", fullmatch=True),
    st.from_regex(r"[a-z]{2,5}@[a-z]{2,5}\.[a-z]{2,3}", fullmatch=True),
    st.from_regex(r"\+1-555-\d{4}", fullmatch=True),
    st.from_regex(r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", fullmatch=True),
    # OVERLAPPING classes (r10 advice item 1): a phone or an IP embedded
    # in an email local part is consumed by the <EMAIL> replacement —
    # progressive counting must not count it as a phone/IP too.
    st.from_regex(r"[a-z]\+1-555-\d{4}@[a-z]{2,5}\.[a-z]{2,3}",
                  fullmatch=True),
    st.from_regex(
        r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}@[a-z]{2,5}\.[a-z]{2,3}",
        fullmatch=True,
    ),
)


@PROP
@given(pieces=st.lists(_pii_piece, min_size=0, max_size=10))
def test_pii_scrub_count_matches_redaction_and_is_idempotent(spark, pieces):
    """Counts equal the placeholder occurrences the redaction produced
    — including when a phone/IP is embedded inside an email and
    consumed by the <EMAIL> replacement — and scrubbing the redacted
    text finds nothing (idempotence)."""
    from _event_intelligence_data_warehouse_spark.operators import (
        text as tx,
    )

    text = " ".join(pieces)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = tx.pii_scrub(df).collect()[0]
    clean = r["clean_text"]
    assert r["n_emails"] == clean.count("<EMAIL>")
    assert r["n_phones"] == clean.count("<PHONE>")
    assert r["n_ips"] == clean.count("<IP>")
    r2 = tx.pii_scrub(
        spark.createDataFrame([(1, clean)], "doc_id long, text string")
    ).collect()[0]
    assert r2["n_pii"] == 0 and r2["clean_text"] == clean


@PROP
@given(
    text=st.text(
        alphabet="abct h+@.THE ",
        min_size=0,
        max_size=120,
    )
)
def test_token_ngram_hashes_matches_python_replay_property(spark, text):
    """For arbitrary text, the engine's token-gram scheme (greedy BPE
    folds per [a-z]+ word, in-order flatten, space-joined 4-gram,
    md5-prefix hash) equals a pure-Python replay — the alphabet biases
    toward the fixed merge list's symbols so folds actually fire."""
    import hashlib
    import re as _re

    from _event_intelligence_data_warehouse_spark.contract.extension_queries import (  # noqa: E501
        _BPE_MERGES,
    )
    from _event_intelligence_data_warehouse_spark.operators import (
        text as tx,
    )

    def bpe(word):
        syms = list(word)
        for left, right in _BPE_MERGES:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return syms

    toks = []
    for w in _re.findall(r"[a-z]+", text.lower()):
        toks.extend(bpe(w))
    n = 4
    want = {
        int(hashlib.md5(" ".join(toks[i:i + n]).encode())
            .hexdigest()[:8], 16)
        for i in range(len(toks) - n + 1)
    }
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        r.gram_hash
        for r in tx.token_ngram_hashes(df, _BPE_MERGES, n=n).collect()
    }
    assert got == want
