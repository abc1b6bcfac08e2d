"""KV storage + CAS + lease semantics (the reference's semantic core).

Re-expresses, as batch DataFrame operators:

- the KV ``Storage`` contract of the reference README
  (``/root/reference/README.md:185-223``: fetch / put-throws-on-existing /
  update-throws-on-missing),
- the CAS primitives of ``CassandraLeaderElection.scala``:
  INSERT IF NOT EXISTS (:56-57), UPDATE ... IF owner=? (:59-60),
  DELETE ... IF owner=? (:53-54),
- TTL-lease semantics (table option ``default_time_to_live = 2``,
  CassandraLeaderElection.scala:39-43): Spark storage has no row TTL, so
  the lease is an explicit ``write_ts`` column + an expiry *view*
  parameterized by ``now`` (never ``current_timestamp()`` - determinism),
- the leader-election fold of ``setupLeaderWatchers``
  (CassandraLeaderElection.scala:111-137) as a per-resource ordered replay.

Batch-tier atomicity note (SURVEY §4.3): these operators give CAS
*semantics* (the merge result a serial executor would produce), not CAS
*atomicity* - the batch tier assumes single-writer-per-table discipline.
The serving tier gets real atomicity from Cassandra LWTs via the
``foreachBatch`` sink (sources/__init__.py ``CassandraLwtForeachBatch``).

Scale: every operator is a join/window over the key columns - shuffles
partition by key, small "delta" sides are broadcast when they fit, and
nothing collects to the driver except the strict-contract existence checks
(which are ``LIMIT 1`` probes).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class KeyExistsError(ValueError):
    """put() over an existing key (README.md:194-200 contract)."""


class KeyNotFoundError(ValueError):
    """update() over a missing key (README.md:202-209 contract)."""


def _key_cond(a: str, b: str, keys: Sequence[str]) -> Column:
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"{a}.{k}") == F.col(f"{b}.{k}"))
    return cond


# --------------------------------------------------------------------------
# KV Storage contract (R3 + README Storage trait)
# --------------------------------------------------------------------------

def kv_get(kv: DataFrame, keys: Iterable[str], key_col: str = "key") -> DataFrame:
    """Point lookup(s): ``SELECT value FROM kv WHERE key = ?`` generalized
    to a key list (CassandraListenerRegistry.scala:27).  The IN filter is
    pushdown-eligible, so at scale this prunes row groups / partitions."""
    keys = list(keys)
    return kv.filter(F.col(key_col).isin(keys))


def kv_put(kv: DataFrame, new: DataFrame, key_cols: Sequence[str] = ("key",),
           strict: bool = True) -> DataFrame:
    """Insert new keys; with ``strict`` (the README put contract) raise
    ``KeyExistsError`` if any key already exists."""
    if strict:
        # one take(1) = one Spark job for the whole strict probe (the
        # LIMIT-1 scan short-circuits; a count()+collect() pair would
        # run two)
        clash = kv.join(new.select(*key_cols), list(key_cols), "inner").take(1)
        if clash:
            raise KeyExistsError(f"kv_put: key(s) already present: {clash}")
    return kv.unionByName(new)


def kv_update(kv: DataFrame, updates: DataFrame, key_cols: Sequence[str] = ("key",),
              strict: bool = True) -> DataFrame:
    """Replace values for existing keys; with ``strict`` (README update
    contract) raise ``KeyNotFoundError`` if any key is missing."""
    if strict:
        missing = updates.join(
            kv.select(*key_cols), list(key_cols), "left_anti"
        ).take(1)
        if missing:
            raise KeyNotFoundError(f"kv_update: missing key(s): {missing}")
    kept = kv.join(updates.select(*key_cols), list(key_cols), "left_anti")
    updated = updates.join(kv.select(*key_cols), list(key_cols), "left_semi")
    return kept.unionByName(updated)


# --------------------------------------------------------------------------
# CAS primitives (R5-R7)
# --------------------------------------------------------------------------

def cas_insert(current: DataFrame, new: DataFrame,
               key_cols: Sequence[str]) -> DataFrame:
    """INSERT ... IF NOT EXISTS (CassandraLeaderElection.scala:56-57) as a
    left-anti merge: only rows whose keys are absent are appended.  When
    several new rows contend for one key, the winner is the row that sorts
    first on the remaining columns (deterministic, mirroring 'exactly one
    Paxos winner')."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[c for c in new.columns if c not in key_cols]
    )
    one_per_key = (
        new.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    inserts = one_per_key.join(current.select(*key_cols), list(key_cols), "left_anti")
    return current.unionByName(inserts)


def cas_update(current: DataFrame, updates: DataFrame,
               key_cols: Sequence[str], guard_cols: Sequence[str]) -> DataFrame:
    """UPDATE ... IF <guard> (CassandraLeaderElection.scala:59-60).

    ``updates`` carries, per key: expected values as ``expected_<col>``,
    replacement values as ``new_<col>`` for each guarded column, and the
    ``__upd_marker`` presence column (see :func:`with_upd_marker` - a
    non-null payload column would be unreliable for nullable values).  A
    row is rewritten only when every ``expected_<col>`` equals the current
    value (null-safe, matching the watcher's Option compare); otherwise
    kept unchanged.
    """
    joined = current.alias("cur").join(
        updates.alias("upd"), on=list(key_cols), how="left"
    )
    guard = F.lit(True)
    for g in guard_cols:
        guard = guard & F.col(f"cur.{g}").eqNullSafe(F.col(f"upd.expected_{g}"))
    joined = joined.withColumn("__has_upd", F.col("upd.__upd_marker").isNotNull())
    out_cols = []
    for c in current.columns:
        if c in key_cols:
            out_cols.append(F.col(f"cur.{c}").alias(c))
        elif c in guard_cols:
            out_cols.append(
                F.when(F.col("__has_upd") & guard, F.col(f"upd.new_{c}"))
                .otherwise(F.col(f"cur.{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"cur.{c}").alias(c))
    return joined.select(*out_cols)


def with_upd_marker(updates: DataFrame) -> DataFrame:
    """Attach the presence marker cas_update/cas_delete use to detect a
    matching update row after the left join."""
    return updates.withColumn("__upd_marker", F.lit(1))


def cas_delete(current: DataFrame, deletes: DataFrame,
               key_cols: Sequence[str], guard_cols: Sequence[str]) -> DataFrame:
    """DELETE ... IF <guard> (CassandraLeaderElection.scala:53-54): drop
    rows whose key appears in ``deletes`` AND whose guarded columns equal
    the ``expected_<col>`` values; everything else survives."""
    joined = current.alias("cur").join(
        deletes.alias("del"), on=list(key_cols), how="left"
    )
    guard = F.col("del.__upd_marker").isNotNull()
    for g in guard_cols:
        guard = guard & F.col(f"cur.{g}").eqNullSafe(F.col(f"del.expected_{g}"))
    return joined.filter(~guard).select(
        *[F.col(f"cur.{c}").alias(c) for c in current.columns]
    )


# --------------------------------------------------------------------------
# TTL lease (R12)
# --------------------------------------------------------------------------

def lease_view(leases: DataFrame, now, ttl_seconds: float = 2.0,
               write_ts_col: str = "write_ts") -> DataFrame:
    """Live leases at the explicit instant ``now``: rows whose last write
    is within the TTL window.  ``now`` is a parameter, never
    current_timestamp(), so results are deterministic and oracle-checkable
    (SURVEY §4.3 item 2).  The filter is a pushdown-eligible range
    predicate on write_ts - at scale, time-partitioned storage prunes."""
    now_col = F.lit(now).cast("timestamp_ntz")
    cutoff = now_col - F.expr(f"INTERVAL {float(ttl_seconds)} SECONDS")
    return leases.filter(
        (F.col(write_ts_col) > cutoff) & (F.col(write_ts_col) <= now_col)
    )


def current_leaders(heartbeats: DataFrame, now, ttl_seconds: float,
                    resource_col: str = "resource", owner_col: str = "owner",
                    ts_col: str = "write_ts") -> DataFrame:
    """getLeader for every resource at instant ``now``
    (CassandraLeaderElection.scala:64-69 generalized from one key to all):
    the owner with the latest heartbeat still inside the TTL window; ties
    broken by owner id (deterministic).

    Follows the *implementation's* interface, not the README spec
    (SURVEY §2.1 interface-drift note): getLeader returns the owner AND
    its supplemental data (``Option[(String, String)]``), so when the
    heartbeat frame carries a ``sup_data`` column it rides along with
    the winning row."""
    live = lease_view(heartbeats, now, ttl_seconds, ts_col)
    aggs = [
        F.expr(f"max_by({owner_col}, struct({ts_col}, {owner_col}))").alias(owner_col)
    ]
    if "sup_data" in heartbeats.columns:
        aggs.append(
            F.expr(f"max_by(sup_data, struct({ts_col}, {owner_col}))").alias("sup_data")
        )
    aggs.append(F.max(ts_col).alias(ts_col))
    return live.groupBy(resource_col).agg(*aggs)


# --------------------------------------------------------------------------
# Leader-election replay (R15) - inherently sequential per resource
# --------------------------------------------------------------------------

def _lease_fold(pdf: "pd.DataFrame", ttl: float, candidate_col: str,
                ts_col: str, owner=None, owner_ts=None):
    """THE lease state machine - single definition shared by the plain
    and chunked replays so the TTL boundary / tie-break semantics cannot
    drift between them.  Left-to-right fold of ts-sorted heartbeats from
    optional carried (owner, owner_ts) state; returns (owners, actions,
    final_owner, final_owner_ts)."""
    owners, actions = [], []
    for cand, t in zip(pdf[candidate_col], pdf[ts_col]):
        expired = owner is None or (t - owner_ts).total_seconds() >= ttl
        if expired:
            owner, owner_ts, action = cand, t, "acquire"
        elif cand == owner:
            owner_ts, action = t, "renew"
        else:
            action = "reject"
        owners.append(owner)
        actions.append(action)
    return owners, actions, owner, owner_ts


def leader_timeline(heartbeats: DataFrame, ttl_seconds: float,
                    resource_col: str = "resource",
                    candidate_col: str = "candidate",
                    ts_col: str = "ts") -> DataFrame:
    """Replay the leader-election state machine over an ordered heartbeat
    log, per resource (applyInPandas - the fold in
    CassandraLeaderElection.scala:111-137 is iterative, not relational):

    at each heartbeat (resource, candidate, ts):
      - if there is no current owner, or the current owner's lease has
        expired (elapsed >= ttl — Cassandra TTL expires the row at
        exactly write_ts + ttl, the same boundary :func:`lease_view`
        uses), the candidate ACQUIRES the lease;
      - if the candidate is the current owner, it RENEWS;
      - otherwise the heartbeat is REJECTED (owner unchanged).

    Returns one row per heartbeat with the resulting owner and the action
    taken.  Scale: one shuffle by resource; each group is a sequential
    pandas fold (resources are independent; within a resource the
    semantics are inherently ordered, exactly like Paxos serializing
    winners).
    """
    ttl = float(ttl_seconds)
    schema = (
        f"{resource_col} string, {candidate_col} string, {ts_col} timestamp_ntz, "
        f"owner string, action string"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, candidate_col], kind="mergesort")
        owners, actions, _, _ = _lease_fold(
            pdf, ttl, candidate_col, ts_col
        )
        pdf = pdf[[resource_col, candidate_col, ts_col]].copy()
        pdf["owner"] = owners
        pdf["action"] = actions
        return pdf

    return (
        heartbeats.select(resource_col, candidate_col, ts_col)
        .groupBy(resource_col)
        .applyInPandas(fold, schema)
    )


def leader_timeline_chunked(heartbeats: DataFrame, ttl_seconds: float,
                            n_chunks: int = 8,
                            resource_col: str = "resource",
                            candidate_col: str = "candidate",
                            ts_col: str = "ts") -> DataFrame:
    """:func:`leader_timeline` with bounded per-task memory: the escape
    hatch for a HOT resource whose full history would not fit one pandas
    group (one resource with 10^9 heartbeats is one task's memory in the
    plain fold - the replay is inherently sequential per resource, but
    it does not have to be resident all at once).

    The log is cut into ``n_chunks`` global time slices; each slice is
    folded per resource (same state machine) with the (owner, owner_ts)
    state CARRIED FORWARD from the previous slice via a cogrouped
    applyInPandas - so a task ever holds only ``rows / n_chunks`` of the
    hottest resource.  The driver runs only the bounded slice loop
    (n_chunks iterations, like the star components' round loop); each
    slice's output is localCheckpoint'd, which both materializes the
    diamond (events + carry read the same fold once) and truncates
    lineage so the plan does not grow with slices.

    Semantically identical to :func:`leader_timeline` for any chunking:
    the fold is a left-to-right reduction and time slices preserve ts
    order across chunk boundaries (equivalence is pytest-pinned)."""
    ttl = float(ttl_seconds)
    base = heartbeats.select(resource_col, candidate_col, ts_col)
    # epoch micros via the SAME expression for boundaries and row
    # assignment, so no python/JVM timezone mismatch can shift chunks
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lo_hi = base.agg(
        F.min(epoch).alias("lo"), F.max(epoch).alias("hi")
    ).collect()[0]
    if lo_hi["lo"] is None:
        return leader_timeline(base, ttl_seconds, resource_col,
                               candidate_col, ts_col)
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
    width = max((hi - lo) // n_chunks + 1, 1)
    chunk = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_chunks - 1),
            F.floor((epoch - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    chunked = base.withColumn("__chunk", chunk)

    out_schema = (
        f"{resource_col} string, {candidate_col} string, {ts_col} timestamp_ntz, "
        f"owner string, action string, __is_state boolean"
    )
    state_schema = (
        f"{resource_col} string, owner string, owner_ts timestamp_ntz"
    )

    def fold_slice(beats: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        if beats.empty:
            # carry the state through an empty slice untouched
            if state.empty:
                return pd.DataFrame(
                    columns=[resource_col, candidate_col, ts_col,
                             "owner", "action", "__is_state"]
                )
            res = state[resource_col].iloc[0]
            return pd.DataFrame({
                resource_col: [res], candidate_col: [state["owner"].iloc[0]],
                ts_col: [state["owner_ts"].iloc[0]],
                "owner": [state["owner"].iloc[0]], "action": ["carry"],
                "__is_state": [True],
            })
        beats = beats.sort_values([ts_col, candidate_col], kind="mergesort")
        if state.empty:
            owner, owner_ts = None, None
        else:
            owner = state["owner"].iloc[0]
            owner_ts = pd.Timestamp(state["owner_ts"].iloc[0])
        owners, actions, owner, owner_ts = _lease_fold(
            beats, ttl, candidate_col, ts_col, owner, owner_ts
        )
        out = beats[[resource_col, candidate_col, ts_col]].copy()
        out["owner"] = owners
        out["action"] = actions
        out["__is_state"] = False
        res = beats[resource_col].iloc[0]
        out = pd.concat([out, pd.DataFrame({
            resource_col: [res], candidate_col: [owner], ts_col: [owner_ts],
            "owner": [owner], "action": ["carry"], "__is_state": [True],
        })], ignore_index=True)
        return out

    spark = heartbeats.sparkSession
    carry = spark.createDataFrame([], state_schema)
    pieces = []
    for i in range(n_chunks):
        slice_df = chunked.filter(F.col("__chunk") == i).drop("__chunk")
        folded = (
            slice_df.groupBy(resource_col)
            .cogroup(carry.groupBy(resource_col))
            .applyInPandas(
                lambda beats, state: fold_slice(beats, state), out_schema
            )
            .localCheckpoint()
        )
        pieces.append(folded.filter(~F.col("__is_state")).drop("__is_state"))
        carry = folded.filter(F.col("__is_state")).select(
            resource_col, "owner", F.col(ts_col).alias("owner_ts")
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
