"""Property-based invariants over randomized CDC streams (hypothesis).

The reference has no property/randomized tests (SURVEY.md §5); these pin the
engine's core guarantees on arbitrary op/time interleavings, not just the
golden scenarios:

- hubs: one row per business key, ever;
- satellites: keyed uniqueness on (hkey, load_date);
- link effectivity: per-key state history alternates and starts open;
- replaying any prefix of the stream changes nothing (idempotency);
- PIT intervals per key are disjoint, ordered, and gap-free.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_playground_spark.conventions import DataVaultConventions
from pyspark_playground_spark.operators import business_vault as bv
from pyspark_playground_spark.operators import raw_vault as rv

C = DataVaultConventions()
T0 = datetime(2026, 11, 1)
OPS = ["snapshot", "create", "update", "delete"]


@st.composite
def cdc_stream(draw):
    """2-4 batches of rows (op, ts, id, fk, value), unique (id, ts), and
    per-key in-order across batches (batch i draws from hour window
    [10i, 10i+9]) — the CDC delivery contract the reference also assumes.

    Out-of-order (late) events are deliberately out of scope here: the
    insert-only design keeps latest-state reads correct under late data but
    may store redundant same-state effectivity rows (it cannot retract an
    already-appended row) — pinned separately in
    ``test_late_event_keeps_reads_correct``.
    """
    n_batches = draw(st.integers(2, 4))
    ids = [f"e{i}" for i in range(1, draw(st.integers(2, 6)) + 1)]
    used: set[tuple[str, int]] = set()
    batches = []
    for b in range(n_batches):
        n_rows = draw(st.integers(1, 8))
        rows = []
        for _ in range(n_rows):
            eid = draw(st.sampled_from(ids))
            hour = draw(st.integers(b * 10, b * 10 + 9))
            if (eid, hour) in used:
                continue
            used.add((eid, hour))
            op = draw(st.sampled_from(OPS))
            fk = draw(st.one_of(st.none(), st.sampled_from(["f1", "f2", "f3"])))
            val = draw(st.integers(0, 5))
            rows.append((op, T0 + timedelta(hours=hour), eid, fk, val))
        if rows:
            batches.append(rows)
    return batches


def _load_stream(spark, batches):
    """Run the stream through the kernels, accumulating vault state."""
    hub = sat = eff = links = link_eff = None

    def stage(rows):
        df = spark.createDataFrame(
            rows, "OPERATION string, LOAD_DATE timestamp, ID string, FK string, VAL int"
        )
        return rv.prepare_staging(
            df, load_date_column="LOAD_DATE", operation_column="OPERATION",
            record_source="prop", hkey_columns=["ID"],
        )

    def acc(existing, new):
        # truncate lineage per batch: the anti-join existing side otherwise
        # re-evaluates the whole load history on every action
        combined = new if existing is None else existing.unionByName(new)
        return combined.localCheckpoint(eager=True)

    for i, rows in enumerate(batches):
        staged = stage(rows)
        load_ts = datetime(2026, 12, 1, i)
        hub = acc(hub, rv.hub_rows(staged, ["ID"], existing=hub, load_ts=load_ts,
                                   record_source="prop"))
        sat = acc(sat, rv.satellite_rows(staged, ["FK", "VAL"], existing=sat))
        eff = acc(eff, rv.effectivity_rows(staged, existing=eff))
        new_l, new_le = rv.link_rows(
            staged, from_name="entities", to_name="targets", fk_column="FK",
            existing_link=links, existing_effectivity=link_eff,
            load_ts=load_ts, record_source="prop",
        )
        links = acc(links, new_l)
        link_eff = acc(link_eff, new_le)

    return hub, sat, eff, links, link_eff


@pytest.mark.usefixtures("spark")
@settings(max_examples=2, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=cdc_stream())
def test_vault_invariants_hold_for_any_stream(spark, batches):
    hub, sat, eff, links, link_eff = _load_stream(spark, batches)

    # hubs unique per business key
    assert hub.count() == hub.select(C.hkey()).distinct().count()
    # satellites keyed on (hkey, load_date)
    assert sat.count() == sat.select(C.hkey(), C.load_date()).distinct().count()
    # links unique per hkey
    assert links.count() == links.select(C.hkey()).distinct().count()

    # link effectivity histories: start open, strictly alternate
    rows = sorted(
        ((r[C.hkey()], r[C.load_date()], r[C.deleted()]) for r in link_eff.collect()),
    )
    by_key: dict[str, list[bool]] = {}
    for k, _, d in rows:
        by_key.setdefault(k, []).append(d)
    for k, states in by_key.items():
        assert states[0] is False, f"history starts deleted for {k}"
        for a, b in zip(states, states[1:]):
            assert a != b, f"non-alternating history for {k}: {states}"

    # replaying the final batch changes nothing anywhere
    staged = rv.prepare_staging(
        spark.createDataFrame(
            batches[-1],
            "OPERATION string, LOAD_DATE timestamp, ID string, FK string, VAL int",
        ),
        load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="prop", hkey_columns=["ID"],
    )
    replay_ts = datetime(2026, 12, 2)
    assert rv.hub_rows(staged, ["ID"], existing=hub, load_ts=replay_ts,
                       record_source="prop").count() == 0
    assert rv.satellite_rows(staged, ["FK", "VAL"], existing=sat).count() == 0
    assert rv.effectivity_rows(staged, existing=eff).count() == 0
    rl, rle = rv.link_rows(
        staged, from_name="entities", to_name="targets", fk_column="FK",
        existing_link=links, existing_effectivity=link_eff,
        load_ts=replay_ts, record_source="prop",
    )
    assert rl.count() == 0 and rle.count() == 0

    # PIT partitions each key's timeline: ordered, disjoint, gap-free
    pit = bv.pit_rows(sat, eff, end_of_time=None)
    intervals: dict[str, list[tuple]] = {}
    for r in pit.collect():
        intervals.setdefault(r[C.hkey()], []).append(
            (r[C.load_date()], r[C.load_end_date()])
        )
    for k, ivs in intervals.items():
        ivs.sort()
        for (s1, e1), (s2, _) in zip(ivs, ivs[1:]):
            assert e1 is not None and e1 <= s2, f"overlap/gap at {k}: {ivs}"


def test_late_event_keeps_reads_correct(spark):
    """Out-of-order delivery: a batch carrying an event older than stored
    history cannot retract stored rows (insert-only), so the effectivity
    satellite may hold redundant same-state rows — but the latest-state
    read and the run-length-compressed view stay correct."""
    def stage(rows):
        df = spark.createDataFrame(
            rows, "OPERATION string, LOAD_DATE timestamp, ID string, FK string, VAL int"
        )
        return rv.prepare_staging(
            df, load_date_column="LOAD_DATE", operation_column="OPERATION",
            record_source="prop", hkey_columns=["ID"],
        )

    t_early, t_late = datetime(2026, 11, 1, 1), datetime(2026, 11, 2, 1)
    b1 = stage([("create", t_late, "e1", "f1", 1)])
    links, eff = rv.link_rows(
        b1, from_name="entities", to_name="targets", fk_column="FK",
        load_ts=datetime(2026, 12, 1), record_source="prop",
    )
    links, eff = links.localCheckpoint(True), eff.localCheckpoint(True)

    # late batch: the same link state at an EARLIER event time
    b2 = stage([("update", t_early, "e1", "f1", 2)])
    _, new_eff = rv.link_rows(
        b2, from_name="entities", to_name="targets", fk_column="FK",
        existing_link=links, existing_effectivity=eff,
        load_ts=datetime(2026, 12, 2), record_source="prop",
    )
    all_eff = eff.unionByName(new_eff)

    # stored rows may be redundant ([F@early, F@late]) …
    states = [
        r[C.deleted()]
        for r in all_eff.orderBy(C.load_date()).collect()
    ]
    assert all(s is False for s in states)
    # … but the compressed read view and the latest state are exact
    compressed = rv.compress_state_changes(
        all_eff, key=C.hkey(), order=C.load_date(), state=C.deleted()
    )
    assert compressed.count() == 1
    latest = (
        all_eff.orderBy(F.col(C.load_date()).desc()).select(C.deleted()).first()[0]
    )
    assert latest is False


# ---------------------------------------------------------------------------
# LLM-pipeline operator invariants (round 2)
# ---------------------------------------------------------------------------

from pyspark_playground_spark.operators import packing as _pk
from pyspark_playground_spark.operators import text as _tx


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 3_000)),
        min_size=1, max_size=40, unique_by=lambda t: t[0],
    ),
    seq_len=st.sampled_from([128, 2048]),
    bucket_size=st.sampled_from([1, 7, 64]),
)
def test_packing_prefix_sum_invariants(spark, data, seq_len, bucket_size):
    """Two-phase packing == exclusive prefix sum in doc_id order, for any
    sparse id distribution, bucket size, and token counts (incl. zeros)."""
    df = spark.createDataFrame(data, "doc_id int, n_tokens int")
    rows = sorted(
        _pk.assign_sequence_offsets(
            df, token_count_column="n_tokens",
            seq_len=seq_len, bucket_size=bucket_size,
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    expect = 0
    for r in rows:
        assert r["global_offset"] == expect
        assert r["seq_id"] == r["global_offset"] // seq_len
        assert r["offset_in_seq"] == r["global_offset"] % seq_len
        expect += r["n_tokens"]


_TEXT = st.text(
    alphabet=st.sampled_from(list("ab x\n\t.!🙂é")), min_size=0, max_size=60
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_TEXT, min_size=1, max_size=6))
def test_repetition_metrics_bounded(spark, texts):
    """Every repetition ratio lies in [0, 1] for arbitrary text (unicode,
    newlines, empty) — no division blowups, no negative counts."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    for r in _tx.repetition_metrics(df).collect():
        for c in ("duplicate_line_fraction", "duplicate_line_char_fraction",
                  "duplicate_ngram_fraction", "top_ngram_fraction"):
            assert 0.0 <= r[c] <= 1.0, (c, r[c], texts[r["doc_id"]])


NGRAM_NS = (1, 2, 3, 5)


def _ngrams_ref(t, n):
    """Documented ``ngrams_expr`` semantics in plain Python: non-empty
    whitespace tokens of lower-cased text (``str.split()``); short docs
    yield their full token run as one gram; token-less docs no grams;
    NULL text NULL."""
    if t is None:
        return None
    toks = t.lower().split()
    if not toks:
        return []
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]


def _shingles_ref(t, n):
    """``shingles_expr``: distinct grams in first-occurrence order, and
    ``['']`` for a token-less or NULL document."""
    return list(dict.fromkeys(_ngrams_ref(t, n) or [""]))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=6))
@example(texts=[
    "", "   ", " \n\t ", None, "One", "one two", "A b C", "a b a b a b",
    "x  y\tz\nw v u",
])
def test_ngrams_fast_path_matches_python_reference(spark, texts):
    """The shared n-gram kernel behind ``ngrams_expr`` and
    ``shingles_expr`` equals a plain Python re-implementation of the
    documented semantics for every n: empty, whitespace-only, NULL and
    shorter-than-n documents included, and ``['']`` shingles for empty and
    NULL text (so every document still gets a MinHash signature)."""
    from pyspark_playground_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    res = df.select(
        "doc_id",
        *[_tx.ngrams_expr("text", n).alias(f"g{n}") for n in NGRAM_NS],
        *[dd.shingles_expr("text", n).alias(f"s{n}") for n in NGRAM_NS],
    ).collect()
    got = {r["doc_id"]: r for r in res}
    for i, t in enumerate(texts):
        for n in NGRAM_NS:
            assert got[i][f"g{n}"] == _ngrams_ref(t, n), (t, n)
            assert got[i][f"s{n}"] == _shingles_ref(t, n), (t, n)


# ---------------------------------------------------------------------------
# sub-document chunk dedup vs a pure-Python reference model
# ---------------------------------------------------------------------------

def _chunk_dedup_model(corpus: dict[int, str], n: int) -> dict[int, tuple]:
    """Pure-Python keep-first-occurrence chunk dedup (the semantics
    token_chunk_dedup must match): chunks of n tokens in (doc_id, pos)
    order; first occurrence of each distinct chunk survives."""
    seen: set[str] = set()
    out = {}
    for doc_id in sorted(corpus):
        toks = corpus[doc_id].split(" ") if corpus[doc_id] else []
        kept, total = [], 0
        for i in range(0, len(toks), n):
            seg = " ".join(toks[i:i + n])
            total += 1
            if seg == "" or seg not in seen:
                kept.append(seg)
            if seg != "":
                seen.add(seg)
        out[doc_id] = (" ".join(kept), total, len(kept))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_token_chunk_dedup_matches_model(spark, data):
    words = ["aa", "bb", "cc", "dd"]
    corpus = {
        i: " ".join(data.draw(st.lists(st.sampled_from(words), max_size=12)))
        for i in range(data.draw(st.integers(1, 6)))
    }
    from pyspark_playground_spark.operators import dedup as dd

    df = spark.createDataFrame(
        list(corpus.items()), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_segments"], r["n_kept"])
        for r in dd.token_chunk_dedup(df, chunk_tokens=2).collect()
    }
    want = _chunk_dedup_model(corpus, 2)
    # empty docs: Spark's split('') yields [''] -> one empty always-kept
    # segment; the model yields zero chunks. Normalize both to (text, -, -).
    assert {k: v[0] for k, v in got.items()} == {
        k: v[0] for k, v in want.items()
    }
    for k in corpus:
        if corpus[k]:
            assert got[k] == want[k]


# ---------------------------------------------------------------------------
# span-duplication + blocked-linkage vs pure-Python models
# ---------------------------------------------------------------------------

@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=12),
        min_size=1, max_size=8,
    ),
    span=st.integers(min_value=2, max_value=4),
)
def test_span_duplication_matches_model(spark, docs, span):
    from pyspark_playground_spark.operators.dedup import span_duplication_stats

    texts = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {r.id: (r.n_spans, r.n_dup_spans)
           for r in span_duplication_stats(df, span_tokens=span).collect()}

    from collections import Counter
    census = Counter()
    per_doc = {}
    for i, d in enumerate(docs):
        spans = [tuple(d[j:j + span]) for j in range(len(d) - span + 1)]
        per_doc[i] = spans
        census.update(spans)
    for i, spans in per_doc.items():
        n_dup = sum(1 for s in spans if census[s] > 1)
        assert got[i] == (len(spans), n_dup)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=6),
        min_size=1, max_size=12,
    ),
    max_dist=st.integers(min_value=1, max_value=3),
)
def test_blocked_fuzzy_pairs_matches_model(spark, names, max_dist):
    import re

    from pyspark_playground_spark.operators.linkage import blocked_fuzzy_pairs

    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {(r.name_a, r.name_b): (r.dist, r.count_a, r.count_b)
           for r in blocked_fuzzy_pairs(df, "name", max_dist=max_dist).collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from collections import Counter
    norm = Counter(re.sub(r"\s+", " ", n.strip().lower()) for n in names)
    norm.pop("", None)
    expected = {}
    for a in norm:
        for b in norm:
            if a < b and a[0] == b[0]:
                d = lev(a, b)
                if 1 <= d <= max_dist:
                    expected[(a, b)] = (d, norm[a], norm[b])
    assert got == expected


# ---------------------------------------------------------------------------
# session-2 operators: CUSUM fold, incremental CC, A-ES sampling
# ---------------------------------------------------------------------------

@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seqs=st.lists(
        st.lists(st.integers(min_value=-50, max_value=50),
                 min_size=1, max_size=12),
        min_size=1, max_size=4,
    )
)
def test_cusum_matches_python_fold(spark, seqs):
    """Spark's exact-decimal CUSUM fold equals a literal Python fold of
    the same recursion for any integer value sequence (integers cast
    exactly to decimal(18,6), so no rounding enters)."""
    from fractions import Fraction

    from pyspark_playground_spark.operators import temporal as tp

    rows = [
        (u, T0 + timedelta(minutes=i), f"e{i:03d}", float(v))
        for u, seq in enumerate(seqs)
        for i, v in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id string, value double"
    )
    got = {
        r["user_id"]: r
        for r in tp.cusum_changepoint(df).collect()
    }
    for u, seq in enumerate(seqs):
        n = len(seq)
        total = sum(seq)
        t = mx = Fraction(0)
        for x in seq:
            t = max(Fraction(0), t + (Fraction(n * x) - total))
            mx = max(mx, t)
        assert got[u]["n_events"] == n
        from decimal import Decimal
        assert Decimal(got[u]["cusum_max_scaled"]) == Decimal(mx.numerator) / Decimal(mx.denominator)


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=0, max_size=30,
    ),
    cut=st.integers(0, 30),
)
def test_incremental_cc_equals_recompute(spark, edges, cut):
    """For any edge set and any old/new batch split, folding the new
    batch into the old labeling equals full recompute."""
    from pyspark_playground_spark.operators import graph as G

    old, new = edges[:cut], edges[cut:]
    schema = "src long, dst long"
    full_df = spark.createDataFrame(edges, schema) if edges else None
    if full_df is None:
        return
    full = {
        (r["node"], r["component"])
        for r in G.connected_components(full_df).collect()
    }
    if old:
        labels = G.connected_components(spark.createDataFrame(old, schema))
    else:
        labels = spark.createDataFrame([], "node long, component long")
    new_df = spark.createDataFrame(new, schema) if new else \
        spark.createDataFrame([], schema)
    got = {
        (r["node"], r["component"])
        for r in G.update_components(labels, new_df).collect()
    }
    assert got == full


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 8), st.booleans()),
        min_size=3, max_size=40,
    ).filter(
        lambda ps: any(y for _, y in ps) and any(not y for _, y in ps)
    )
)
def test_exact_auc_matches_pair_counting_model(spark, pairs):
    """For ANY score/label multiset with both classes present, exact_auc
    equals the literal tie-corrected pair count."""
    from pyspark_playground_spark.operators import profiling as pf

    df = spark.createDataFrame(pairs, "s long, y boolean")
    got = pf.exact_auc(df, score_column="s", label_column="y").collect()[0]
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    u = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    )
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert abs(got["auc"] - u / (len(pos) * len(neg))) < 1e-12


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=3, max_size=40,
    )
)
def test_spearman_matches_average_rank_model(spark, pairs):
    """For ANY integer pair multiset, spearman_correlation equals Pearson
    over tie-corrected average ranks (NULL iff a column is constant)."""
    import math

    from pyspark_playground_spark.operators import profiling as pf

    df = spark.createDataFrame(pairs, "a long, b long")
    got = pf.spearman_correlation(df, x_column="a", y_column="b").collect()[0]
    assert got["n_rows"] == len(pairs)

    def avg_ranks(vals):
        s = sorted(vals)
        first, cnt = {}, {}
        for i, v in enumerate(s):
            first.setdefault(v, i)
        for v in s:
            cnt[v] = cnt.get(v, 0) + 1
        return [first[v] + (cnt[v] + 1) / 2 for v in vals]

    ra, rb = avg_ranks([a for a, _ in pairs]), avg_ranks([b for _, b in pairs])
    n = len(pairs)
    ma, mb = sum(ra) / n, sum(rb) / n
    da = sum((x - ma) ** 2 for x in ra)
    db = sum((y - mb) ** 2 for y in rb)
    if da == 0 or db == 0:
        assert got["rho"] is None
    else:
        ref = sum(
            (x - ma) * (y - mb) for x, y in zip(ra, rb)
        ) / math.sqrt(da * db)
        assert abs(got["rho"] - ref) < 1e-9


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 20), st.booleans()),
        min_size=1, max_size=40,
    )
)
def test_pr_curve_invariants(spark, data):
    """For ANY (score, label) multiset, the exact PR sweep satisfies the
    defining identities at every threshold: tp+fn == total positives,
    tp+fp == rows at score >= threshold, recall is non-increasing in the
    threshold, tp is the exact count of positives at score >= t, and the
    quantized ratios are the floor-exact integer divisions of those
    counts."""
    from pyspark_playground_spark.operators.profiling import pr_curve

    df = spark.createDataFrame(data, "s int, y boolean")
    rows = sorted(
        pr_curve(df, score_column="s", label_column="y").collect(),
        key=lambda r: r["threshold"],
    )
    P = sum(1 for s, y in data if y)
    for r in rows:
        t = r["threshold"]
        tp = sum(1 for s, y in data if y and s >= t)
        fp = sum(1 for s, y in data if not y and s >= t)
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, P - tp)
        assert r["precision_x6"] == (tp * 1_000_000) // (tp + fp)
        assert (r["recall_x6"] is None) == (P == 0)
        if P:
            assert r["recall_x6"] == (tp * 1_000_000) // P
        assert r["f1_x6"] == (2 * tp * 1_000_000) // (2 * tp + fp + P - tp)
    # recall non-increasing as the threshold rises
    recs = [r["recall_x6"] for r in rows if r["recall_x6"] is not None]
    assert all(a >= b for a, b in zip(recs, recs[1:]))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    cal=st.lists(st.integers(0, 50), min_size=1, max_size=30),
    ev=st.lists(st.integers(0, 50), min_size=1, max_size=30),
    alpha_den=st.sampled_from([2, 4, 10]),
)
def test_conformal_threshold_matches_model(spark, cal, ev, alpha_den):
    """The distributed k-th order statistic equals the literal sorted-list
    pick, and held-out coverage is the exact count at or below it."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        conformal_threshold,
    )

    rows = [(s, True) for s in cal] + [(s, False) for s in ev]
    df = spark.createDataFrame(rows, "s int, cal boolean")
    r = conformal_threshold(
        df, score_column="s", calibration_column="cal",
        alpha_num=1, alpha_den=alpha_den,
    ).collect()[0]
    n = len(cal)
    k = math.ceil((n + 1) * (alpha_den - 1) / alpha_den)
    assert r["k_rank"] == k
    if k > n:
        assert r["threshold"] is None
        assert r["n_covered"] == len(ev)
    else:
        expect = sorted(cal)[k - 1]
        assert r["threshold"] == expect
        assert r["n_covered"] == sum(1 for s in ev if s <= expect)
    assert r["coverage_x6"] == (r["n_covered"] * 1_000_000) // len(ev)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.sampled_from("abcd"), st.sampled_from("abc")),
        min_size=1, max_size=40,
    )
)
def test_classification_report_matches_model(spark, data):
    """Per-class tp/fp/fn and the quantized ratios equal a literal
    Python confusion-matrix computation for ANY (true, pred) multiset."""
    from pyspark_playground_spark.operators.profiling import (
        classification_report,
    )

    df = spark.createDataFrame(data, "t string, p string")
    out = {r["label"]: r for r in classification_report(
        df, true_column="t", pred_column="p").collect()}
    labels = {t for t, _ in data} | {p for _, p in data}
    assert set(out) == labels
    for lab in labels:
        tp = sum(1 for t, p in data if t == lab and p == lab)
        fp = sum(1 for t, p in data if t != lab and p == lab)
        fn = sum(1 for t, p in data if t == lab and p != lab)
        r = out[lab]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        assert r["support"] == tp + fn
        if tp + fp:
            assert r["precision_x6"] == (tp * 1_000_000) // (tp + fp)
        else:
            assert r["precision_x6"] is None
        if tp + fn:
            assert r["recall_x6"] == (tp * 1_000_000) // (tp + fn)
        else:
            assert r["recall_x6"] is None


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.sampled_from("xy"), st.sampled_from("uvw")),
        min_size=2, max_size=50,
    )
)
def test_chi_square_matches_model(spark, data):
    """chi2_x6 equals the literal sum of per-cell quantized terms, and
    Cramér's V follows the documented fixed-order double recipe."""
    import math
    from collections import Counter

    from pyspark_playground_spark.operators.profiling import (
        chi_square_independence,
    )

    df = spark.createDataFrame(data, "a string, b string")
    r = chi_square_independence(df, a_column="a", b_column="b").collect()[0]
    n = len(data)
    cells = Counter(data)
    ra = Counter(t for t, _ in data)
    cb = Counter(p for _, p in data)
    R, C = len(ra), len(cb)
    assert (r["n_rows"], r["n_cells"]) == (n, len(cells))
    assert (r["r_levels"], r["c_levels"]) == (R, C)
    if R < 2 or C < 2:
        assert r["chi2_x6"] is None and r["cramers_v_q6"] is None
        return
    chi2_x6 = 0
    for (a, b), o in cells.items():
        d = float(o * n - ra[a] * cb[b])
        chi2_x6 += math.floor(
            d * d / (float(ra[a]) * float(cb[b]) * float(n)) * 1e6 + 0.5
        )
    assert r["chi2_x6"] == chi2_x6
    v = math.sqrt(chi2_x6 / 1e6 / (float(n) * float(min(R - 1, C - 1))))
    assert r["cramers_v_q6"] == math.floor(v * 1e6 + 0.5)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(1, 6), st.booleans(), st.booleans()),
        min_size=1, max_size=30,
    )
)
def test_log_rank_matches_model(spark, data):
    """deaths/u_q6/var_q6 equal a literal per-death-time hypergeometric
    computation (same quantization order) for ANY lifetime multiset."""
    import math

    from pyspark_playground_spark.operators.survival import log_rank_test

    rows = [(f"k{i}", d, int(died), g) for i, (d, died, g) in enumerate(data)]
    df = spark.createDataFrame(
        rows, "k string, duration_hours int, died int, grp boolean"
    )
    r = log_rank_test(df).collect()[0]
    times = sorted({d for d, died, _ in data if died})
    u_q6 = v_q6 = d_a = d_b = 0
    for tm in times:
        n1 = sum(1 for d, _, g in data if g and d >= tm)
        n2 = sum(1 for d, _, g in data if not g and d >= tm)
        d1 = sum(1 for d, died, g in data if g and died and d == tm)
        d2 = sum(1 for d, died, g in data if not g and died and d == tm)
        nt, dt = n1 + n2, d1 + d2
        d_a += d1
        d_b += d2
        u_q6 += math.floor(float(d1 * nt - dt * n1) / nt * 1e6 + 0.5)
        if nt > 1:
            v_q6 += math.floor(
                float(dt * n1 * n2 * (nt - dt))
                / (float(nt) * float(nt) * float(nt - 1)) * 1e6 + 0.5
            )
    assert (r["deaths_a"], r["deaths_b"]) == (d_a, d_b)
    assert r["u_q6"] == u_q6 and r["var_q6"] == v_q6
    if v_q6 > 0:
        u, v = u_q6 / 1e6, v_q6 / 1e6
        assert r["chi2_q6"] == math.floor(u * u / v * 1e6 + 0.5)
    else:
        assert r["chi2_q6"] is None


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 1_000_000), st.booleans()),
        min_size=1, max_size=40,
    ),
    bins=st.sampled_from([2, 5, 10]),
)
def test_calibration_error_report_matches_model(spark, data, bins):
    """ece/mce/brier equal literal integer computations for ANY
    in-range (ppm, label) multiset."""
    from pyspark_playground_spark.operators.profiling import (
        calibration_error_report,
    )

    df = spark.createDataFrame(data, "ppm long, y boolean")
    r = calibration_error_report(
        df, score_ppm_column="ppm", label_column="y", bins=bins
    ).collect()[0]
    by_bin = {}
    for p, y in data:
        b = min(p * bins // 1_000_000, bins - 1)
        n, pos, sppm = by_bin.get(b, (0, 0, 0))
        by_bin[b] = (n + 1, pos + (1 if y else 0), sppm + p)
    N = len(data)
    sum_dev = sum(abs(pos * 1_000_000 - sppm)
                  for n, pos, sppm in by_bin.values())
    mce = max(abs(pos * 1_000_000 - sppm) // n
              for n, pos, sppm in by_bin.values())
    brier = sum((p - (1_000_000 if y else 0)) ** 2 for p, y in data)
    assert r["n"] == N and r["n_out_of_range"] == 0
    assert r["ece_x6"] == sum_dev // N
    assert r["mce_x6"] == mce
    assert r["brier_x12"] == brier // N


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.sampled_from("pq"), st.integers(0, 30), st.booleans()),
        min_size=1, max_size=40,
    )
)
def test_mondrian_conformal_matches_model(spark, data):
    """Per-group threshold and coverage equal the literal per-group
    sorted-list computation."""
    import math

    from pyspark_playground_spark.operators.profiling import (
        conformal_threshold_by_group,
    )

    df = spark.createDataFrame(data, "g string, s int, cal boolean")
    out = {r["g"]: r for r in conformal_threshold_by_group(
        df, score_column="s", group_column="g", calibration_column="cal",
        alpha_num=1, alpha_den=4,
    ).collect()}
    all_groups = {g for g, _, _ in data}
    # every group appears — eval-only groups included (n_cal=0, NULL
    # threshold, fully covered by convention)
    assert set(out) == all_groups
    for g in all_groups:
        cal = sorted(s for gg, s, c in data if gg == g and c)
        ev = [s for gg, s, c in data if gg == g and not c]
        n = len(cal)
        k = math.ceil((n + 1) * 3 / 4)
        r = out[g]
        assert (r["n_cal"], r["k_rank"], r["n_eval"]) == (n, k, len(ev))
        if k > n:
            assert r["threshold"] is None and r["n_covered"] == len(ev)
        else:
            thr = cal[k - 1]
            assert r["threshold"] == thr
            assert r["n_covered"] == sum(1 for s in ev if s <= thr)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.sampled_from("pqr"), st.integers(-50, 50)),
        min_size=2, max_size=40,
    )
)
def test_anova_oneway_matches_model(spark, data):
    """n/k/SS strings/F equal the literal quantized computation (values
    q6-quantized once, per-group double SS terms floored at integer
    units, exact integer sums, scale-invariant F) for ANY grouping."""
    import math
    from collections import defaultdict

    from pyspark_playground_spark.operators.profiling import anova_oneway

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in data], "g string, v double"
    )
    r = anova_oneway(df, value_column="v", group_column="g").collect()[0]
    groups = defaultdict(list)
    for g, v in data:
        groups[g].append(math.floor(float(v) * 1e6 + 0.5))
    n = len(data)
    k = len(groups)
    s_all = sum(sum(vs) for vs in groups.values())
    gmean = float(s_all) / float(n)
    ssb = ssw = 0
    for vs in groups.values():
        ng, sg, qg = len(vs), sum(vs), sum(x * x for x in vs)
        mg = float(sg) / float(ng)
        ssb += math.floor(
            float(ng) * (mg - gmean) * (mg - gmean) / 1e12 + 0.5
        )
        ssw += math.floor(
            (float(qg) - float(sg) * float(sg) / float(ng)) / 1e12 + 0.5
        )
    assert (r["n_rows"], r["k_groups"]) == (n, k)
    assert (r["ssb_s"], r["ssw_s"]) == (str(ssb), str(ssw))
    if k >= 2 and n > k and ssw > 0:
        f = (float(ssb) / float(k - 1)) / (float(ssw) / float(n - k))
        assert r["f_q6"] == math.floor(f * 1e6 + 0.5)
    else:
        assert r["f_q6"] is None


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 5), st.booleans()),
        min_size=1, max_size=40,
    )
)
def test_drift_jsd_matches_model(spark, data):
    """jsd equals the literal smoothed per-bin computation with the same
    HALF_UP roundings (log2 at 7 decimals, terms at 9, exact DECIMAL
    sum) for ANY value/cohort multiset."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark_playground_spark.operators.profiling import drift_jsd

    df = spark.createDataFrame(
        [(v, c) for v, c in data], "v int, a boolean"
    )
    r = drift_jsd(df, value_column="v", cohort_column="a").collect()[0]

    def rhu(x, d):
        return float(
            Decimal(repr(x)).quantize(Decimal(f"1e-{d}"), ROUND_HALF_UP)
        )

    ca = Counter(v for v, c in data if c)
    cb = Counter(v for v, c in data if not c)
    bins = sorted({v for v, _ in data})
    na, nb, nbins = sum(ca.values()), sum(cb.values()), len(bins)
    total = Decimal(0)
    for v in bins:
        a1, b1 = ca[v] + 1, cb[v] + 1
        pa = a1 / float(na + nbins)
        pb = b1 / float(nb + nbins)
        num_a = float(a1 * (nb + nbins))
        num_b = float(b1 * (na + nbins))
        den = float(a1 * (nb + nbins) + b1 * (na + nbins))
        lg_a = rhu(math.log2(2.0 * num_a / den), 7)
        lg_b = rhu(math.log2(2.0 * num_b / den), 7)
        total += Decimal(repr(rhu(0.5 * (pa * lg_a + pb * lg_b), 9)))
    assert (r["n_a"], r["n_b"], r["n_bins"]) == (na, nb, nbins)
    assert r["jsd"] == float(total)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 99),
                  st.floats(-100, 100, allow_nan=False)),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
    b=st.sampled_from([7, 20, 49]),
)
def test_sign_flip_matches_model(spark, data, b):
    """obs/n_as_extreme/p equal the pure-Python md5 sign mirror for ANY
    paired-diff multiset and flip count."""
    import hashlib
    import math

    from pyspark_playground_spark.operators.sampling import sign_flip_test

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in data], "id int, v double"
    )
    r = sign_flip_test(
        df, diff_column="v", key_columns=["id"], permutations=b
    ).collect()[0]

    def sgn(k, i):
        h = hashlib.md5(f"{k}:{i}:sf".encode()).hexdigest()
        return (int(h[:8], 16) % 2) * 2 - 1

    ds = {str(k): math.floor(float(v) * 1e6 + 0.5) for k, v in data}
    obs = sum(ds.values())
    stats = [sum(s * sgn(k, i) for k, s in ds.items()) for i in range(b)]
    n_ext = sum(1 for s in stats if abs(s) >= abs(obs))
    assert r["n_pairs"] == len(data)
    assert r["obs_sum_x6"] == obs
    assert r["n_as_extreme"] == n_ext
    assert r["p_q6"] == ((n_ext + 1) * 1_000_000) // (b + 1)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-100, 100)),
        min_size=2, max_size=25, unique_by=lambda t: t[0],
    )
)
def test_theil_sen_matches_model(spark, data):
    """Slope and intercept equal the literal quantized median-of-slopes
    computation (lower medians, q6 floors) for ANY series."""
    import math

    from pyspark_playground_spark.operators.temporal import theil_sen_slope

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in data], "x double, y double"
    )
    r = theil_sen_slope(df, x_column="x", y_column="y").collect()[0]
    pts = sorted((float(x), float(y)) for x, y in data)
    slopes = sorted(
        math.floor((y2 - y1) / (x2 - x1) * 1e6 + 0.5)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    )
    assert r["n_pairs"] == len(slopes)
    lower_med = slopes[(len(slopes) + 1) // 2 - 1]
    assert r["slope_q6"] == lower_med
    resid = sorted(
        math.floor((y - lower_med / 1e6 * x) * 1e6 + 0.5) for x, y in pts
    )
    assert r["intercept_q6"] == resid[(len(resid) + 1) // 2 - 1]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-50, 50)),
        min_size=2, max_size=25, unique_by=lambda t: t[0],
    )
)
def test_changepoint_matches_model(spark, data):
    """The located split, gain, and segment means equal the literal
    quantized binary-segmentation scan with the earliest-split
    tie-break for ANY series."""
    import math

    from pyspark_playground_spark.operators.temporal import (
        binary_segmentation_changepoint,
    )

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in data], "x double, y double"
    )
    r = binary_segmentation_changepoint(
        df, x_column="x", y_column="y"
    ).collect()[0]
    pts = sorted((float(x), float(y)) for x, y in data)
    yq = [math.floor(y * 1e6 + 0.5) for _, y in pts]
    n, s = len(yq), sum(yq)
    best = None
    for i in range(1, n):  # split after position i-1 (left size i)
        sl = sum(yq[:i])
        gain = math.floor(
            (sl * sl / i + (s - sl) * (s - sl) / (n - i) - s * s / n)
            / 1e12 * 1e6 + 0.5
        )
        cand = (gain, -pts[i - 1][0],
                math.floor(sl / i + 0.5),
                math.floor((s - sl) / (n - i) + 0.5))
        if best is None or cand > best:
            best = cand
    assert r["n_points"] == n
    assert r["split_x"] == -best[1]
    assert r["gain_q6"] == best[0]
    assert (r["mean_left_q6"], r["mean_right_q6"]) == (best[2], best[3])


@settings(max_examples=2, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_incremental_minhash_pruned_equals_full_any_split(spark, data):
    """The r10 active-bucket pruning must be output-invisible for ANY
    corpus and ANY old/new split (not just the fixed fixtures): the
    incremental result equals the full-corpus pair set restricted to
    pairs touching a new doc, and the persisted-banded state layout
    agrees with the signature-store layout."""
    from pyspark_playground_spark.operators import dedup as dd

    words = ["alpha", "beta", "gamma", "delta", "eps"]
    n = data.draw(st.integers(2, 7))
    corpus = {
        i: " ".join(
            data.draw(
                st.lists(st.sampled_from(words), min_size=3, max_size=8)
            )
        )
        for i in range(n)
    }
    new_ids = set(
        data.draw(
            st.lists(
                st.sampled_from(sorted(corpus)),
                min_size=1, max_size=n, unique=True,
            )
        )
    )
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id int, text string"
    )
    old = docs.filter(~F.col("doc_id").isin(*new_ids))
    new = docs.filter(F.col("doc_id").isin(*new_ids))
    kw = dict(threshold=0.3, bands=32)
    full = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_dedup_pairs(docs, **kw).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    sigs = dd.minhash_signatures(old)
    inc = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_minhash_pairs(
            docs, sigs, new, **kw
        ).collect()
    }
    assert inc == full
    banded = dd.minhash_banded_store(sigs, bands=32)
    via_banded = {
        (r["id_a"], r["id_b"])
        for r in dd.incremental_minhash_pairs(
            docs, None, new, existing_banded=banded, **kw
        ).collect()
    }
    assert via_banded == full
