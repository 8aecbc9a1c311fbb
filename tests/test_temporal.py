"""Edge-case tests for the temporal operators (joins, sessions)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.operators.joins import as_of_join, range_join_agg
from nsp_bolt_pipeline_spark.operators.sessions import session_agg


def _ts(h, m=0):
    return datetime(2024, 7, 1, h, m)


def test_as_of_join_boundaries_and_ties(spark):
    probe = spark.createDataFrame(
        [
            (1, "u1", _ts(10)),  # ref at exactly 10:00 must match (inclusive)
            (2, "u1", _ts(9)),   # before any ref -> nulls
            (3, "u2", _ts(12)),  # two refs at the same ts -> larger id wins
        ],
        "pid long, user string, ts timestamp",
    )
    ref = spark.createDataFrame(
        [
            ("u1", _ts(10), 100),
            ("u2", _ts(11), 200),
            ("u2", _ts(11), 201),
        ],
        "user string, ts timestamp, rid long",
    )
    out = {
        r["pid"]: r
        for r in as_of_join(
            probe, ref, key="user", probe_ts="ts", ref_ts="ts", tiebreak="rid"
        ).collect()
    }
    assert out[1]["asof_rid"] == 100
    assert out[2]["asof_rid"] is None and out[2]["asof_ts"] is None
    assert out[3]["asof_rid"] == 201


def test_as_of_join_tolerance_bounds_lookback(spark):
    probe = spark.createDataFrame(
        [
            (1, "u", _ts(10)),  # ref 2h old, within 3h tolerance
            (2, "u", _ts(14)),  # ref 6h old -> no match, BOTH cols null
            (3, "u", _ts(11)),  # ref exactly 3h old: boundary matches
        ],
        "pid long, user string, ts timestamp",
    )
    ref = spark.createDataFrame(
        [("u", _ts(8), 7)], "user string, ts timestamp, rid long"
    )
    out = {
        r["pid"]: r
        for r in as_of_join(
            probe,
            ref,
            key="user",
            probe_ts="ts",
            ref_ts="ts",
            tiebreak="rid",
            tolerance="3 HOUR",
        ).collect()
    }
    assert out[1]["asof_rid"] == 7
    assert out[2]["asof_rid"] is None and out[2]["asof_ts"] is None
    assert out[3]["asof_rid"] == 7


def test_as_of_join_keeps_all_probe_rows_once(spark):
    # many matching refs must not duplicate probe rows (the naive
    # join+filter shape would need dedup; union-tag never fans out)
    probe = spark.createDataFrame(
        [(1, "u", _ts(23))], "pid long, user string, ts timestamp"
    )
    ref = spark.createDataFrame(
        [("u", _ts(h), h) for h in range(1, 23)],
        "user string, ts timestamp, rid long",
    )
    rows = as_of_join(
        probe, ref, key="user", probe_ts="ts", ref_ts="ts", tiebreak="rid"
    ).collect()
    assert len(rows) == 1 and rows[0]["asof_rid"] == 22


def test_as_of_join_rejects_probe_only_tiebreak(spark):
    probe = spark.createDataFrame(
        [(1, "u", _ts(1))], "pid long, user string, ts timestamp"
    )
    ref = spark.createDataFrame(
        [("u", _ts(1), 1)], "user string, ts timestamp, rid long"
    )
    with pytest.raises(ValueError, match="tiebreak"):
        as_of_join(
            probe, ref, key="user", probe_ts="ts", ref_ts="ts", tiebreak="pid"
        )


def test_range_join_agg_duplicate_anchor_rows_stay_separate(spark):
    # two identical anchor rows must yield two output rows with
    # per-anchor (not doubled) aggregates
    anchors = spark.createDataFrame(
        [("u1", _ts(1)), ("u1", _ts(1))], "user string, ats timestamp"
    )
    events = spark.createDataFrame(
        [("u1", _ts(2), 5.0)], "user string, ts timestamp, v double"
    )
    rows = range_join_agg(
        anchors,
        events,
        key="user",
        anchor_ts="ats",
        event_ts="ts",
        within="1 day",
        measures={"n": F.count(F.col("e.ts")), "total": F.sum(F.col("e.v"))},
    ).collect()
    assert len(rows) == 2
    assert all(r["n"] == 1 and r["total"] == 5.0 for r in rows)


def test_range_join_agg_zero_match_anchor_survives(spark):
    anchors = spark.createDataFrame(
        [("u1", _ts(1)), ("u2", _ts(1))], "user string, ats timestamp"
    )
    events = spark.createDataFrame(
        [("u1", _ts(2), 5.0), ("u1", _ts(23), 7.0)],
        "user string, ts timestamp, v double",
    )
    out = {
        r["user"]: r
        for r in range_join_agg(
            anchors,
            events,
            key="user",
            anchor_ts="ats",
            event_ts="ts",
            within="4 hours",
            measures={"n": F.count(F.col("e.ts")), "s": F.sum(F.col("e.v"))},
        ).collect()
    }
    assert out["u1"]["n"] == 1 and out["u1"]["s"] == 5.0  # 23:00 outside
    assert out["u2"]["n"] == 0 and out["u2"]["s"] is None


def test_session_agg_gap_boundary_is_inclusive(spark):
    df = spark.createDataFrame(
        [
            ("u", _ts(10, 0), 1.0),
            ("u", _ts(10, 30), 2.0),  # exactly gap later: still MERGES
            ("u", _ts(11, 1), 3.0),   # 31 min after prev: new session
        ],
        "user string, ts timestamp, v double",
    )
    out = session_agg(
        df,
        keys=["user"],
        ts_col="ts",
        gap="30 minutes",
        measures={"n": F.count("*"), "s": F.sum("v")},
    ).collect()
    by_start = {r["session_start"]: r for r in out}
    assert len(out) == 2
    first = by_start[_ts(10, 0)]
    assert first["n"] == 2 and first["s"] == 3.0
    assert first["session_end"] == _ts(11, 0)  # last event 10:30 + 30 min
    assert by_start[_ts(11, 1)]["n"] == 1


class TestHoltTrend:
    def test_matches_python_model_at_odd_parallelism(self, spark):
        """Holt fold (alpha=beta=1/2) against a scalar Python replay,
        exact equality — the fold is halvings + additions in a fixed
        order, so no tolerance is needed at any partition count."""
        import random

        from nsp_bolt_pipeline_spark.registry import REGISTRY, load_all

        load_all()
        rng = random.Random(7)
        rows = []
        for uid in range(17):
            for i in range(rng.randrange(1, 24)):
                rows.append(
                    (uid * 1000 + i, uid, float(rng.randrange(0, 500)) / 10)
                )
        want = {}
        by_uid = {}
        for eid, uid, v in sorted(rows):
            by_uid.setdefault(uid, []).append(v)
        for uid, vs in by_uid.items():
            lv, tr = vs[0], 0.0
            for v in vs[1:]:
                lv_new = (v + lv + tr) * 0.5
                tr = (lv_new - lv) * 0.5 + tr * 0.5
                lv = lv_new
            want[uid] = (len(vs), lv, tr)

        import datetime as dt

        df = spark.createDataFrame(
            [
                (eid, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=eid),
                 uid, "view", v, None)
                for eid, uid, v in rows
            ],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).repartition(7)
        import tempfile

        out = tempfile.mkdtemp(prefix="holt_")
        df.write.mode("overwrite").parquet(f"{out}/events.parquet")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            src = f"/root/testdata/sf0.001/{t}.parquet"
            spark.read.parquet(src).limit(0).write.mode("overwrite").parquet(
                f"{out}/{t}.parquet"
            )
        fn, _ = REGISTRY["t21_holt_trend"]
        got = {
            r["user_id"]: (r["n_events"], r["level"], r["trend"])
            for r in fn(spark, out).collect()
        }
        assert got == want
