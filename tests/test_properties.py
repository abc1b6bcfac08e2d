"""Hypothesis property tests (SURVEY.md §5.2 item 4): invariants that
must hold for ARBITRARY inputs, not just the synthetic tables.

Example counts are kept small (each example is a Spark job); the
properties are the point:
- CDC completeness: replaying the change log reconstructs exactly the
  latest snapshot (the precise contract poll-based CDC provides).
- Dedup idempotence: dedup(dedup(x)) == dedup(x).
- CAS insert: existing rows are never modified; new keys all land.
- Lease safety: at any instant, at most one owner per resource, and
  never an expired or future heartbeat.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_cassandra_plugin_spark.operators import changes as C
from kafka_cassandra_plugin_spark.operators import dedup as D
from kafka_cassandra_plugin_spark.operators import kv as KV

KEYS = st.sampled_from(["k1", "k2", "k3"])
VALUES = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
TS0 = dt.datetime(2024, 1, 1)

snapshot_histories = st.lists(
    st.tuples(KEYS, st.integers(0, 20), VALUES), min_size=0, max_size=25
).map(
    lambda rows: [
        (k, TS0 + dt.timedelta(seconds=s), v) for k, s, v in rows
    ]
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


class TestCdcCompleteness:
    @SLOW
    @given(hist=snapshot_histories)
    def test_replay_reconstructs_latest(self, spark, hist):
        # one poll per (key, ts): keep the last value per poll instant
        dedup_hist = {}
        for k, t, v in hist:
            dedup_hist[(k, t)] = v
        rows = [(k, t, v) for (k, t), v in dedup_hist.items()]
        if not rows:
            return
        df = spark.createDataFrame(
            rows, "key string, poll_ts timestamp_ntz, value string"
        )
        replayed = {
            (r.key, r.value)
            for r in C.replay(C.value_changes(df, ["key"]), ["key"]).collect()
        }
        # null value == absent key (Option.None): the contract is
        # "replay reconstructs the non-null portion of the snapshot"
        latest = {
            (r.key, r.value)
            for r in C.latest_snapshot(df, ["key"]).collect()
            if r.value is not None
        }
        assert replayed == latest


class TestDedupIdempotence:
    @SLOW
    @given(
        texts=st.lists(st.sampled_from(["x y z", "x y", "q r s", "q r"]),
                       min_size=1, max_size=12)
    )
    def test_exact_dedup_idempotent(self, spark, texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        once = D.exact_dedup(df, "text", "doc_id")
        twice = D.exact_dedup(once, "text", "doc_id")
        a = sorted(tuple(r) for r in once.collect())
        b = sorted(tuple(r) for r in twice.collect())
        assert a == b
        assert len(a) == len(set(texts))


class TestCasInvariants:
    @SLOW
    @given(
        cur=st.dictionaries(KEYS, st.sampled_from(["a", "b"]), max_size=3),
        new=st.dictionaries(KEYS, st.sampled_from(["x", "y"]), max_size=3),
    )
    def test_cas_insert_never_mutates_existing(self, spark, cur, new):
        cur_df = spark.createDataFrame(
            list(cur.items()) or [("__none", "v")], "key string, value string"
        )
        new_df = spark.createDataFrame(
            list(new.items()) or [("__none2", "v")], "key string, value string"
        )
        out = {r.key: r.value for r in KV.cas_insert(cur_df, new_df, ["key"]).collect()}
        for k, v in (cur or {"__none": "v"}).items():
            assert out[k] == v  # existing rows untouched
        for k, v in (new or {"__none2": "v"}).items():
            assert k in out  # every contended/new key present exactly once


class TestLeaseSafety:
    @SLOW
    @given(
        beats=st.lists(
            st.tuples(
                st.sampled_from(["r1", "r2"]),
                st.sampled_from(["alice", "bob", "carol"]),
                st.integers(0, 30),
            ),
            min_size=1,
            max_size=20,
        ),
        now_s=st.integers(0, 35),
        ttl=st.integers(1, 10),
    )
    def test_single_owner_within_ttl(self, spark, beats, now_s, ttl):
        df = spark.createDataFrame(
            [(r, o, TS0 + dt.timedelta(seconds=s)) for r, o, s in beats],
            "resource string, owner string, write_ts timestamp_ntz",
        )
        now = TS0 + dt.timedelta(seconds=now_s)
        leaders = KV.current_leaders(df, now, ttl).collect()
        # at most one owner per resource
        assert len({r.resource for r in leaders}) == len(leaders)
        for r in leaders:
            age = (now - r.write_ts).total_seconds()
            assert 0 <= age < ttl  # in-window, never future, never expired


class TestHashSplitPartition:
    @SLOW
    @given(
        n=st.integers(50, 300),
        fa=st.integers(1, 80),
        fb=st.integers(1, 15),
        salt=st.sampled_from(["", "s1", "s2"]),
    )
    def test_labels_partition_rows_and_respect_fractions(self, spark, n, fa, fb, salt):
        """For any fraction dict and salt: every row gets exactly one
        label, labels come only from the dict (+holdout), and each
        label's share is within hash-uniformity tolerance."""
        from kafka_cassandra_plugin_spark.operators import sampling as SMP

        fr = {"a": fa / 100.0, "b": fb / 100.0}
        df = spark.range(n).selectExpr("id AS doc_id")
        out = SMP.hash_split(df, "doc_id", fr, salt=salt).collect()
        assert len(out) == n
        by = {}
        for r in out:
            by.setdefault(r.split, 0)
            by[r.split] += 1
        assert set(by) <= {"a", "b", "holdout"}
        # binomial-ish tolerance: 4*sqrt(p(1-p)/n) + granularity slack
        for label, frac in fr.items():
            got = by.get(label, 0) / n
            tol = 4 * (frac * (1 - frac) / n) ** 0.5 + 0.02
            assert abs(got - frac) <= tol, (label, got, frac, tol)


class TestPackingInvariants:
    @SLOW
    @given(
        toks=st.lists(st.integers(1, 400), min_size=1, max_size=40),
        budget=st.sampled_from([64, 128, 256]),
    )
    def test_budget_and_conservation(self, spark, toks, budget):
        """For ARBITRARY token multisets: every non-oversize pack sums
        <= budget, every doc appears exactly once, token mass is
        conserved, and oversize docs are exactly those > budget."""
        from kafka_cassandra_plugin_spark.operators.packing import (
            pack_sequences,
            packing_stats,
        )

        rows = [(i, int(t)) for i, t in enumerate(toks)]
        df = spark.createDataFrame(rows, "doc_id long, nt long")
        packed = pack_sequences(
            df, budget, tokens_col="nt", num_groups=4
        ).collect()
        assert sorted(r.doc_id for r in packed) == [r[0] for r in rows]
        assert sum(r.n_tokens for r in packed) == sum(toks)
        by_pack: dict = {}
        for r in packed:
            by_pack.setdefault(r.pack, []).append(r)
        for members in by_pack.values():
            if any(m.oversize for m in members):
                assert len(members) == 1
                assert members[0].n_tokens > budget
            else:
                assert sum(m.n_tokens for m in members) <= budget


class TestMixInvariants:
    @SLOW
    @given(
        n_rows=st.integers(1, 30),
        whole=st.integers(0, 3),
        frac_bp=st.sampled_from([0, 2500, 5000, 9999]),
    )
    def test_epoch_counts(self, spark, n_rows, whole, frac_bp):
        """Full epochs are EXACT copies of the source; the fractional
        epoch is a subset; epochs are contiguous from 0; zero-weight
        mixtures raise."""
        from kafka_cassandra_plugin_spark.operators.sampling import mix_sources

        w = whole + frac_bp / 10_000
        rows = [(i, "s") for i in range(n_rows)]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        if w == 0:
            with pytest.raises(ValueError):
                mix_sources(df, "doc_id", "src", {"s": w})
            return
        mixed = mix_sources(df, "doc_id", "src", {"s": w}).collect()
        per_epoch: dict = {}
        for r in mixed:
            per_epoch.setdefault(r.epoch, set()).add(r.doc_id)
        all_ids = {i for i, _ in rows}
        for e in range(whole):
            assert per_epoch.get(e, set()) == all_ids  # exact full copies
        tail = per_epoch.get(whole, set())
        assert tail <= all_ids                          # subset slice
        assert set(per_epoch) <= set(range(whole + 1))  # contiguous epochs


class TestAdaptiveBandsInvariants:
    """Pure-math invariants of the threshold-adaptive banding (no Spark
    jobs - these run at full hypothesis example counts)."""

    @settings(max_examples=200, deadline=None)
    @given(
        t=st.floats(0.05, 0.95),
        num_hashes=st.sampled_from([32, 64, 128]),
    )
    def test_recall_guarantee_and_validity(self, t, num_hashes):
        b = D.adaptive_bands(t, num_hashes)
        assert 1 <= b <= num_hashes and num_hashes % b == 0
        r = num_hashes // b
        recall = 1.0 - (1.0 - t**r) ** b
        # contract: >= 0.95, or the r=1 floor - the maximum recall this
        # num_hashes can buy (recall is monotone-decreasing in r)
        assert recall >= 0.95 or b == num_hashes

    @settings(max_examples=50, deadline=None)
    @given(num_hashes=st.sampled_from([32, 64, 128]))
    def test_rows_per_band_monotone_in_threshold(self, num_hashes):
        """Higher thresholds afford more selective geometry: bands never
        increase as the threshold rises (rows-per-band never shrink)."""
        bands = [
            D.adaptive_bands(t / 100, num_hashes) for t in range(5, 100, 5)
        ]
        assert all(a >= b for a, b in zip(bands, bands[1:]))


PII_FRAGMENTS = st.sampled_from([
    "plain words here", "a@b.example.org", "call 555-123-4567",
    "ssn 123-45-6789", "ip 10.0.0.1", "https://ex.org/x?y=1",
    "card 4111-1111-1111-1111", "v1.2.3", "(415) 555-0199",
    "odd-dash-text", "99", "....", "a@b", "12.34", "x" ,
])


class TestPiiProperties:
    """Redaction is idempotent and leaves zero residual matches on
    arbitrary fragment compositions - including boundary compositions
    a hand-written case list would miss (identifiers glued to digits,
    punctuation runs, partial lookalikes)."""

    @SLOW
    @given(docs=st.lists(
        st.lists(PII_FRAGMENTS, min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=10,
    ))
    def test_redaction_idempotent_and_residual_free(self, spark, docs):
        from kafka_cassandra_plugin_spark.operators import pii as P

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id: long, text: string"
        )
        once = P.redact_pii(df)
        twice = P.redact_pii(once)
        a = {r.doc_id: r.text for r in once.collect()}
        b = {r.doc_id: r.text for r in twice.collect()}
        assert a == b  # idempotent: tokens never re-match
        residual = P.pii_profile(once).agg(
            F.sum("pii_total").alias("s")).collect()[0].s
        assert residual == 0  # nothing identifier-shaped survives


class TestStarComponentsProperties:
    """Star connected components agree with a driver-side union-find on
    arbitrary small graphs (self-loops, duplicates, isolates, any
    shape hypothesis composes)."""

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=0, max_size=30,
    ))
    def test_matches_union_find(self, spark, edges):
        from kafka_cassandra_plugin_spark.operators import graph as G

        n = 22
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        want = {x: find(x) for x in range(n)}

        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges] or [(0, 0)],
            "id_a: long, id_b: long",
        )
        got = {r.node: r.label
               for r in G.connected_components_star(pairs).collect()}
        # exactly the nodes of non-self-loop edges get a row; every other
        # node (isolate or self-loop only) labels itself
        assert set(got) == {x for u, v in edges if u != v for x in (u, v)}
        assert {x: got.get(x, x) for x in range(n)} == want
