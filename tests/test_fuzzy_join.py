"""Edit-distance similarity join (operators/fuzzy_join.py).

The ground truth is a pure-python Levenshtein DP; the operator must return
EXACTLY the qualifying pairs (the segment blocking is an exact method, not a
heuristic) across adversarial shapes: tiny alphabet (maximal collisions),
empty strings, equal strings, unicode, and both join variants.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.fuzzy_join import (
    edit_distance_join,
    edit_distance_self_join,
    probe_substrings,
    segment_index,
)


def ed(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def brute_pairs(strs: list[str], k: int) -> set[tuple[int, int, int]]:
    return {
        (i, j, ed(strs[i], strs[j]))
        for i in range(len(strs))
        for j in range(i + 1, len(strs))
        if ed(strs[i], strs[j]) <= k
    }


@pytest.fixture(scope="module")
def spark_prop():
    # hypothesis can't take the function-scoped-looking session fixture as
    # an argument; resolve the shared session the same way the interval
    # property tests do
    from evidence_datasource_parsers_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture(scope="module")
def collision_strings() -> list[str]:
    # binary alphabet + short lengths = maximal segment collisions and
    # every boundary case (empty, len < k+1 → empty segments, equal strings)
    rng = random.Random(20260816)
    return [
        "".join(rng.choice("ab") for _ in range(rng.randint(0, 12)))
        for _ in range(180)
    ]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_self_join_exact_vs_bruteforce(spark, collision_strings, k):
    df = spark.createDataFrame(
        list(enumerate(collision_strings)), "id long, s string"
    )
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in edit_distance_self_join(df, "s", "id", k).collect()
    }
    assert got == brute_pairs(collision_strings, k)


def test_two_table_join_exact_vs_bruteforce(spark, collision_strings):
    strs = collision_strings
    left = spark.createDataFrame(
        list(enumerate(strs[:90])), "id long, s string"
    )
    right = spark.createDataFrame(
        [(90 + i, s) for i, s in enumerate(strs[90:])], "id long, s string"
    )
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in edit_distance_join(left, right, "s", "id", 2).collect()
    }
    want = {
        (i, 90 + j, ed(strs[i], strs[90 + j]))
        for i in range(90)
        for j in range(len(strs) - 90)
        if ed(strs[i], strs[90 + j]) <= 2
    }
    assert got == want


def test_unicode_and_realistic_titles(spark):
    titles = [
        "the quick brown fox",
        "the quick brown fux",  # 1 sub
        "the quick brown foxes",  # 2 ins
        "a völlig anderer titel",
        "a völlig anderer titel!",  # 1 ins (punct)
        "naïve bayes classifier",
        "naive bayes classifier",  # 1 sub (ï→i)
        "深層学習モデル",
        "深層学習もデル",  # 1 sub
        "totally unrelated string here",
    ]
    df = spark.createDataFrame(list(enumerate(titles)), "id long, s string")
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in edit_distance_self_join(df, "s", "id", 2).collect()
    }
    assert got == brute_pairs(titles, 2)


def test_pair_emitted_once(spark):
    # many surviving segments + many (l, i, p) probe hits for the same pair:
    # the distinct must collapse them to ONE output row
    df = spark.createDataFrame(
        [(0, "aaaaaaaaaaaa"), (1, "aaaaaaaaaaab")], "id long, s string"
    )
    rows = edit_distance_self_join(df, "s", "id", 2).collect()
    assert [(r.id_a, r.id_b, r.edit_dist) for r in rows] == [(0, 1, 1)]


def test_probe_fanout_is_bounded(spark):
    # multi-match-aware selection: at k=2 the shift windows sum to 29
    # per string (7+5+5+6+6 over the five partner-length deltas) before
    # position clipping — regression-bound it
    k = 2
    df = spark.createDataFrame(
        [(i, "x" * (5 + i)) for i in range(40)], "id long, s string"
    )
    per_id = (
        probe_substrings(df, "s", "id", k)
        .groupBy("__pid")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_id <= 29
    per_idx = (
        segment_index(df, "s", "id", k)
        .groupBy("__fid")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_idx == k + 1


def test_hot_bucket_cap_bounds_and_keeps_rare_pairs(spark):
    # 50 copies of boilerplate share every bucket; one rare near-pair must
    # survive a tiny cap because its segments live in their own buckets
    rows = [(i, "aaaabbbbcccc") for i in range(50)]
    rows += [(100, "zqwkrtpd"), (101, "zqwkrtpx")]
    df = spark.createDataFrame(rows, "id long, s string")
    capped = edit_distance_self_join(df, "s", "id", 1, hot_bucket_cap=3)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    # cap bounds the boilerplate pair count: only the 3 lowest-id
    # representatives may appear on the index side
    assert all(a <= 2 for (a, b) in got if b < 100)
    full = {
        (r.id_a, r.id_b)
        for r in edit_distance_self_join(df, "s", "id", 1).collect()
    }
    assert got <= full


def test_plan_is_equi_join_not_cartesian(spark):
    df = spark.createDataFrame(
        [(i, f"title {i}") for i in range(100)], "id long, s string"
    )
    plan = (
        edit_distance_self_join(df, "s", "id", 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_canonicalize_labels_transitive(spark):
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canonicalize_labels,
    )

    rows = [
        (10, "colour"),
        (11, "color"),   # 1 edit from colour
        (12, "colr"),    # 1 edit from color, 2 from colour
        (20, "flavour"),
        (21, "flavor"),
        (30, "entirely different"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {
        r.id: (r.canonical_id, r.canonical)
        for r in canonicalize_labels(df, "s", "id", max_dist=1).collect()
    }
    # transitive closure: colr reaches colour THROUGH color at k=1
    assert out[10] == out[11] == out[12] == (10, "colour")
    assert out[20] == out[21] == (20, "flavour")
    # singleton maps to itself
    assert out[30] == (30, "entirely different")
    assert len(out) == len(rows)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_strs = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=8),
    min_size=2,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(strs=_strs, k=st.integers(min_value=1, max_value=3))
def test_property_self_join_matches_bruteforce(spark_prop, strs, k):
    df = spark_prop.createDataFrame(
        list(enumerate(strs)), "id long, s string"
    )
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in edit_distance_self_join(df, "s", "id", k).collect()
    }
    assert got == brute_pairs(strs, k)


def _reps(seg):
    """The (canonical_id, canonical) representatives a segment store holds."""
    return {(r.canonical_id, r.canonical) for r in seg.collect()}


def test_incremental_canonicalize_two_rounds(spark):
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canonicalize_labels,
        incremental_canonicalize_indexed,
    )

    b1 = spark.createDataFrame(
        [(1, "colour"), (2, "color"), (10, "flavour"), (20, "unique one")],
        "id long, s string",
    )
    r1 = incremental_canonicalize_indexed(b1, None, "s", "id", max_dist=1)
    m1 = {r.id: (r.canonical_id, r.canonical) for r in r1.mapping.collect()}
    # first run == at-rest canonicalization
    at_rest = {
        r.id: (r.canonical_id, r.canonical)
        for r in canonicalize_labels(b1, "s", "id", max_dist=1).collect()
    }
    assert m1 == at_rest
    store1 = _reps(r1.store)
    assert (1, "colour") in store1 and (10, "flavour") in store1

    # round 2: near-re-crawls map to STORED canon; new strings elect reps
    b2 = spark.createDataFrame(
        [
            (100, "colouur"),   # 1 edit from stored 'colour'
            (101, "flavor"),    # 1 edit from stored 'flavour'... at k=1? u-deletion = 1
            (102, "brand new"),
            (103, "brand newt"),  # 1 edit from 102 — same NEW cluster
        ],
        "id long, s string",
    )
    r2 = incremental_canonicalize_indexed(
        b2, r1.store, "s", "id", max_dist=1
    )
    m2 = {r.id: (r.canonical_id, r.canonical) for r in r2.mapping.collect()}
    assert m2[100] == (1, "colour")
    assert m2[101] == (10, "flavour")
    assert m2[102] == (102, "brand new")
    assert m2[103] == (102, "brand new")
    assert len(m2) == 4
    # delta holds ONLY the new representative's k+1 segment rows;
    # store = old ∪ delta
    assert r2.delta.count() == 2
    delta = _reps(r2.delta)
    assert delta == {(102, "brand new")}
    assert _reps(r2.store) == store1 | delta


def test_incremental_canonicalize_best_match_deterministic(spark):
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        incremental_canonicalize_indexed,
    )

    # two stored reps both within k=2 of the probe; the closer one wins,
    # and at equal distance the lower canonical_id wins
    store = canon_segment_rows(
        spark.createDataFrame(
            [(5, "abcdefgh"), (3, "abcdefxy")],
            "canonical_id long, canonical string",
        ),
        max_dist=2,
    )
    batch = spark.createDataFrame(
        [(900, "abcdefg"),   # dist 1 to id5, dist 3 to id3 -> id5
         (901, "abcdefxh")], # dist 1 to id3 AND... dist 1 to id5? abcdefxh vs abcdefgh = 1 sub; vs abcdefxy = 1 sub -> tie -> id3
        "id long, s string",
    )
    r = incremental_canonicalize_indexed(batch, store, "s", "id", max_dist=2)
    m = {x.id: x.canonical_id for x in r.mapping.collect()}
    assert m[900] == 5
    assert m[901] == 3


def test_flat_canon_store_refused_by_name(spark):
    """A flat (canonical_id, canonical) store has no seg_key: the segment
    probe refuses it with the named error."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        incremental_canonicalize_indexed,
    )
    from evidence_datasource_parsers_spark.operators.store_meta import (
        ClassicStoreError,
    )

    flat = spark.createDataFrame(
        [(5, "abcdefgh")], "canonical_id long, canonical string"
    )
    batch = spark.createDataFrame([(900, "abcdefg")], "id long, s string")
    with pytest.raises(ClassicStoreError, match="seg_key"):
        incremental_canonicalize_indexed(batch, flat, "s", "id", max_dist=2)


def test_incremental_canonicalize_indexed_matches_oracle(spark, tmp_path):
    """Across a first round (no store) and later rounds probing the
    PERSISTED bucketed segment store, the mapping equals a brute-force
    replay: a string within k of a stored representative maps to the
    nearest one (ties → min id); the rest canonicalize at rest."""
    import uuid

    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canonicalize_labels,
        incremental_canonicalize_indexed,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        read_bucketed_store,
        write_bucketed_store,
    )

    k = 1
    b1 = spark.createDataFrame(
        [(1, "colour"), (2, "color"), (10, "flavour"), (20, "unique one")],
        "id long, s string",
    )
    b2 = spark.createDataFrame(
        [(100, "colouur"), (101, "flavor"), (102, "brand new"),
         (103, "brand newt")],
        "id long, s string",
    )

    def oracle(batch, reps):
        """Brute-force store-priority mapping over collected strings."""
        out, rest = {}, []
        for r in batch.collect():
            near = sorted(
                (ed(r.s, rep), cid, rep) for cid, rep in reps
                if ed(r.s, rep) <= k
            )
            if near:
                out[r.id] = near[0][1:]
            else:
                rest.append((r.id, r.s))
        if rest:
            at_rest = canonicalize_labels(
                spark.createDataFrame(rest, "id long, s string"),
                "s", "id", max_dist=k,
            )
            out.update(
                {r.id: (r.canonical_id, r.canonical)
                 for r in at_rest.collect()}
            )
        return out

    table = f"canon_{uuid.uuid4().hex[:8]}"
    try:
        idx1 = incremental_canonicalize_indexed(b1, None, "s", "id", max_dist=k)
        assert {r.id: (r.canonical_id, r.canonical)
                for r in idx1.mapping.collect()} == oracle(b1, [])
        write_bucketed_store(
            idx1.delta, str(tmp_path / "canon"), table, ["seg_key"], 8
        )
        # advance discipline: round 2 probes the on-disk bucketed store
        # and appends ONLY its delta
        st1 = read_bucketed_store(spark, table)
        idx2 = incremental_canonicalize_indexed(
            b2, st1, "s", "id", max_dist=k
        )
        reps1 = _reps(st1)
        assert {r.id: (r.canonical_id, r.canonical)
                for r in idx2.mapping.collect()} == oracle(b2, reps1)
        # delta = (k+1) segment rows per new representative
        delta_rows = idx2.delta.collect()
        assert {(r.canonical_id, r.canonical) for r in delta_rows} == {
            (102, "brand new")
        }
        assert len(delta_rows) == k + 1
        append_bucketed_store(idx2.delta, table, ["seg_key"], 8)
        # a third batch against the advanced store converges on BOTH
        # round-1 and round-2 representatives
        b3 = spark.createDataFrame(
            [(200, "colour"), (201, "brand neww")], "id long, s string"
        )
        idx3 = incremental_canonicalize_indexed(
            b3, read_bucketed_store(spark, table), "s", "id", max_dist=k
        )
        m3 = {r.id: r.canonical_id for r in idx3.mapping.collect()}
        assert m3 == {200: 1, 201: 102}
        assert {
            r.id: (r.canonical_id, r.canonical)
            for r in idx3.mapping.collect()
        } == oracle(b3, reps1 | {(102, "brand new")})
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_canon_store(spark):
    """Compaction drops crash-replayed duplicate rows and re-applies the
    hot-bucket cap globally (min canonical_id survives per bucket)."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        compact_canon_store,
    )

    reps = spark.createDataFrame(
        [(7, "aaaa"), (3, "aaaa"), (9, "bbbb")],
        "canonical_id long, canonical string",
    )
    seg = canon_segment_rows(reps, max_dist=1)
    doubled = seg.unionByName(seg)  # a replayed append
    out = compact_canon_store(doubled, hot_bucket_cap=1)
    rows = out.collect()
    # dup rows gone; per seg_key bucket ('aaaa' rows collide exactly)
    # only canonical_id 3 survives the cap; 'bbbb' untouched
    assert {r.canonical_id for r in rows} == {3, 9}
    assert len(rows) == 4  # (k+1)=2 segments × 2 surviving reps


def test_canon_store_meta_identity(tmp_path):
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        read_canon_store_meta,
        write_canon_store_meta,
    )

    d = str(tmp_path / "canon_store")
    assert read_canon_store_meta(d) is None
    write_canon_store_meta(d, 2)
    assert read_canon_store_meta(d) == 2
    write_canon_store_meta(d, 2)  # same value re-stamps fine
    with pytest.raises(ValueError, match="k-specific"):
        write_canon_store_meta(d, 3)


def _min_dist_to(strs: list[str], s: str) -> int:
    return min((ed(s, t) for t in strs), default=10**9)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(strs=_strs, k=st.integers(min_value=1, max_value=2))
def test_property_incremental_drift_bound(spark_prop, strs, k):
    """The store-priority asymmetry is BOUNDED (fuzzy_join.py docstring):
    an incremental round may split an at-rest cluster only where the
    cluster touches a stored representative's ≤k neighborhood.  Any
    at-rest cluster (over store ∪ batch) containing NO row within k of a
    stored rep must get ONE canonical label from the incremental pass."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canonicalize_labels,
        incremental_canonicalize_indexed,
    )

    half = max(1, len(strs) // 2)
    store_strs, batch_strs = strs[:half], strs[half:]
    if not batch_strs:
        return
    # store = representatives elected from the first half (round 1)
    r1 = incremental_canonicalize_indexed(
        spark_prop.createDataFrame(
            list(enumerate(store_strs)), "id long, s string"
        ),
        None, "s", "id", max_dist=k,
    )
    store_reps = sorted(_reps(r1.store))
    batch = spark_prop.createDataFrame(
        [(1000 + i, s) for i, s in enumerate(batch_strs)],
        "id long, s string",
    )
    r2 = incremental_canonicalize_indexed(
        batch, r1.store, "s", "id", max_dist=k
    )
    inc = {r.id: r.canonical_id for r in r2.mapping.collect()}

    # at-rest ground truth over store reps ∪ batch
    rep_strs = [s for _, s in store_reps]
    allrows = [(cid, s) for cid, s in store_reps] + [
        (1000 + i, s) for i, s in enumerate(batch_strs)
    ]
    at_rest = canonicalize_labels(
        spark_prop.createDataFrame(allrows, "id long, s string"),
        "s", "id", max_dist=k,
    )
    clusters: dict[int, list[int]] = {}
    for r in at_rest.collect():
        clusters.setdefault(r.canonical_id, []).append(r.id)
    for members in clusters.values():
        batch_members = [m for m in members if m >= 1000]
        if len(batch_members) < 2:
            continue
        touches_store = any(m < 1000 for m in members) or any(
            _min_dist_to(rep_strs, batch_strs[m - 1000]) <= k
            for m in batch_members
        )
        if not touches_store:
            labels = {inc[m] for m in batch_members}
            assert len(labels) == 1, (
                f"cluster {members} split by the incremental pass "
                f"({labels}) without touching any stored rep's "
                f"neighborhood — violates the documented drift bound"
            )
    # and store-priority itself: any batch row within k of a stored rep
    # maps to a STORED canonical id, never elects a new one
    store_ids = {cid for cid, _ in store_reps}
    for i, s in enumerate(batch_strs):
        if _min_dist_to(rep_strs, s) <= k:
            assert inc[1000 + i] in store_ids


def test_incremental_drift_seeded_counterexample(spark):
    """The exact asymmetry class the bound permits, pinned: store rep
    'aaaa'; batch 'aaab' (1 edit from the rep) and 'aabb' (2 edits — out
    of reach at k=1 but 1 edit from 'aaab').  At rest the three form one
    cluster; incrementally 'aaab' converges on the store while 'aabb'
    elects a new representative — a SPLIT, and a legal one because the
    pair straddles the stored rep's neighborhood."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        canonicalize_labels,
        incremental_canonicalize_indexed,
    )

    store = canon_segment_rows(
        spark.createDataFrame(
            [(1, "aaaa")], "canonical_id long, canonical string"
        ),
        max_dist=1,
    )
    batch = spark.createDataFrame(
        [(100, "aaab"), (101, "aabb")], "id long, s string"
    )
    r = incremental_canonicalize_indexed(batch, store, "s", "id", max_dist=1)
    m = {x.id: x.canonical_id for x in r.mapping.collect()}
    assert m == {100: 1, 101: 101}  # the split
    at_rest = canonicalize_labels(
        spark.createDataFrame(
            [(1, "aaaa"), (100, "aaab"), (101, "aabb")],
            "id long, s string",
        ),
        "s", "id", max_dist=1,
    )
    assert {x.canonical_id for x in at_rest.collect()} == {1}  # one cluster


def test_incremental_canonicalize_indexed_null_labels(spark):
    """NULL strings never probe (no substrings), never match a stored
    rep, and self-canonicalize in-batch — same contract as the flat
    variant.  They contribute NO segment rows to the store: a NULL
    label can never match anything, and every NULL rep's k+1 rows would
    collide on the same NULL-skipping xxhash64 keys — an unbounded dead
    hot bucket (round-11 review finding)."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        incremental_canonicalize_indexed,
    )

    store = canon_segment_rows(
        spark.createDataFrame(
            [(1, "colour")], "canonical_id long, canonical string"
        ),
        max_dist=1,
    )
    batch = spark.createDataFrame(
        [(100, "colours"), (101, None), (102, "x")],
        "id long, s string",
    )
    r = incremental_canonicalize_indexed(batch, store, "s", "id", max_dist=1)
    m = {x.id: (x.canonical_id, x.canonical) for x in r.mapping.collect()}
    assert m[100] == (1, "colour")
    assert m[101] == (101, None)   # NULL maps to itself
    assert m[102] == (102, "x")
    assert len(m) == 3
    delta_ids = {x.canonical_id for x in r.delta.collect()}
    assert delta_ids == {102}  # the NULL rep ships no segment rows


def test_canon_store_hits_length_prune_equivalent(spark):
    """The length-prune shave (r11 item 5) is a pure optimization: hits
    with and without pruning are identical, including batch strings
    whose whole ±k length window is absent from the store (pruned to
    zero probe rows) and near-miss lengths at the window edge."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        canon_store_hits,
    )

    reps = spark.createDataFrame(
        [(1, "acme incorporated"),      # len 17
         (2, "beta labs"),              # len 9
         (3, "x" * 30)],                # len 30
        "canonical_id long, canonical string",
    )
    store = canon_segment_rows(reps, max_dist=2)
    batch = spark.createDataFrame(
        [(10, "acme incorporatedx"),    # 1 edit, len 18
         (11, "beta labz"),             # 1 edit, len 9
         (12, "completely-other"),      # len 16 — within ±2 of 17
         (13, "zz"),                    # len 2 — NO store length in ±2
         (14, "y" * 24)],               # len 24 — NO store length in ±2
        "id long, s string",
    )

    def rows(prune):
        return sorted(
            (r["__pid"], r["canonical_id"], r["__d"])
            for r in canon_store_hits(
                store, batch, "s", "id", 2, prune_lengths=prune
            ).collect()
        )

    pruned, unpruned = rows(True), rows(False)
    assert pruned == unpruned
    assert {p[0] for p in pruned} == {10, 11}  # 12-14 genuinely no-match


def test_canon_mapping_probes_store_once(spark):
    """r13: the probe⋈store⋈levenshtein subtree must be evaluated ONCE —
    ``best`` is eagerly localCheckpoint'ed, so the mapping plan reads the
    materialized blocks everywhere instead of re-deriving the verify join
    per consumer (the uncheckpointed form carried 4 levenshtein sites and
    0 reuse)."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        incremental_canonicalize_indexed,
    )

    reps = spark.createDataFrame(
        [(1, "acme incorporated"), (2, "beta labs")],
        "canonical_id long, canonical string",
    )
    store = canon_segment_rows(reps, max_dist=2)
    batch = spark.createDataFrame(
        [(10, "acme incorporatedx"), (11, "zzz unrelated title")],
        "id long, s string",
    )
    res = incremental_canonicalize_indexed(batch, store, "s", "id", 2)
    plan = res.mapping._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the store probe's verify join never re-appears in the mapping plan:
    # best's lineage is cut, so zero levenshtein sites survive anywhere
    # (the in-batch self-join ran eagerly inside duplicate_clusters)
    assert plan.count("levenshtein") == 0
    # and the mapping still maps: 10 → stored rep 1, 11 → itself
    got = {
        (r["id"], r["canonical_id"]) for r in res.mapping.collect()
    }
    assert got == {(10, 1), (11, 11)}
