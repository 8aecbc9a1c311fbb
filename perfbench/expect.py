"""Independent expected results and the checks that compare against them.

Nothing here runs Spark: the expected results are computed from the
generator's own records, in pure Python or in DuckDB, and the actual
results are read from the program's output files with pyarrow or the
json module. ``python3 perfbench/expect.py --self-test`` plants a
wrong row in each workload's output and shows that every check fails
on it; ``python3 perfbench/expect.py --workload W --seed N`` prints
the expected results for that seed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
from collections import Counter
from collections.abc import Iterable

import duckdb

import gen

#: the dedup horizon the ingest workload passes to ``run_ingest``; it
#: covers the 0-2 batch redelivery window many times over.
HORIZON_DAYS = 1


# ---------------------------------------------------------------- ingest


def bronze_winners(batches: Iterable[gen.Batch]) -> dict[tuple, tuple]:
    """First-write-wins per (trip_id, event_type), batch by batch: the
    earliest (time, seq) of a key's valid records in the first batch
    that holds the key wins; a key already kept by an earlier batch is
    dropped. Returns key -> (time, fare, seq)."""
    kept: dict[tuple, tuple] = {}
    for batch in batches:
        first: dict[tuple, tuple] = {}
        for r in batch.records:
            if r.malformed:
                continue
            key = (r.trip_id, r.kind)
            cand = (r.ts, r.seq, r.fare_cents)
            if key not in first or cand[:2] < first[key][:2]:
                first[key] = cand
        for key, (ts, seq, cents) in first.items():
            if key not in kept:
                kept[key] = (ts, cents / 100, seq)
    return kept


def dlq_expected(batches: Iterable[gen.Batch]) -> Counter:
    """Malformed records as the DLQ must hold them: undecodable lines by
    their raw text, decodable ones by their sequence number."""
    out: Counter = Counter()
    for batch in batches:
        for r in batch.records:
            if r.malformed == "truncated_json":
                out[("raw", r.line)] += 1
            elif r.malformed:
                out[("seq", r.seq)] += 1
    return out


def read_parquet_rows(path: str) -> list[dict]:
    """All rows of a (hive-partitioned) parquet dataset, via pyarrow."""
    import pyarrow.dataset as ds  # noqa: PLC0415

    if not os.path.isdir(path):
        return []
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    if not files:
        return []
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def _naive(t) -> dt.datetime | None:
    if t is None:
        return None
    return t.replace(tzinfo=None) if t.tzinfo else t


def check_bronze(rows: list[dict], expected: dict[tuple, tuple]) -> list[str]:
    got: dict[tuple, tuple] = {}
    errors = []
    for row in rows:
        key = (row["trip_id"], row["event_type"])
        if key in got:
            errors.append(f"bronze holds {key} twice")
        got[key] = (_naive(row["event_datetime"]), row["fare_amount"], row["seq"])
    for key in expected.keys() - got.keys():
        errors.append(f"bronze misses {key}")
    for key in got.keys() - expected.keys():
        errors.append(f"bronze has unexpected {key}")
    for key in expected.keys() & got.keys():
        if got[key] != expected[key]:
            errors.append(f"bronze {key}: got {got[key]}, want {expected[key]}")
    return errors[:10]


def check_dlq(rows: list[dict], expected: Counter) -> list[str]:
    got: Counter = Counter()
    for row in rows:
        if row.get("_corrupt_record") is not None:
            got[("raw", row["_corrupt_record"])] += 1
        else:
            got[("seq", row["seq"])] += 1
    if got == expected:
        return []
    return [f"DLQ differs: missing {dict(expected - got)}, unexpected {dict(got - expected)}"][:1]


# ------------------------------------------------------------------ gold


def trip_table(batches: Iterable[gen.Batch]) -> list[tuple]:
    """Completed trips as the generator made them: every trip with a
    valid start and a valid end delivered, with its first end's time
    and fare. Returns (trip_id, dropoff, fare_cents)."""
    starts, ends = set(), {}
    for batch in batches:
        for r in batch.records:
            if r.malformed:
                continue
            if r.kind == "start":
                starts.add(r.trip_id)
            elif r.trip_id not in ends or (r.ts, r.seq) < ends[r.trip_id][:2]:
                ends[r.trip_id] = (r.ts, r.seq, r.fare_cents)
    return [(t, e[0], e[2]) for t, e in ends.items() if t in starts]


def kpis_expected(trips: list[tuple]) -> dict[str, tuple]:
    """Daily fare KPIs by dropoff date, aggregated by DuckDB in exact
    decimal arithmetic. Returns date -> (total, count, avg, max, min)."""
    import pyarrow as pa  # noqa: PLC0415

    table = pa.table(
        {
            "trip_id": [t[0] for t in trips],
            "dropoff": pa.array([t[1] for t in trips], pa.timestamp("us")),
            "fare_cents": pa.array([t[2] for t in trips], pa.int64()),
        }
    )
    con = duckdb.connect()
    try:
        con.register("trips", table)
        rows = con.execute(
            """
            SELECT CAST(CAST(dropoff AS DATE) AS VARCHAR),
                   SUM(fare_cents) / 100.0, COUNT(*), AVG(fare_cents) / 100.0,
                   MAX(fare_cents) / 100.0, MIN(fare_cents) / 100.0
            FROM trips GROUP BY 1 ORDER BY 1
            """
        ).fetchall()
    finally:
        con.close()
    return {r[0]: tuple(float(v) for v in r[1:]) for r in rows}


def read_kpi_json(path: str) -> dict[str, tuple]:
    """The program's KPI output: date-partitioned JSON lines."""
    out: dict[str, tuple] = {}
    if not os.path.isdir(path):
        return out
    for d in sorted(os.listdir(path)):
        if not d.startswith("date="):
            continue
        for f in sorted(os.listdir(os.path.join(path, d))):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(path, d, f)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    r = json.loads(line)
                    key = d[len("date="):]
                    if key in out:
                        out[key] = ("duplicate",)
                        continue
                    out[key] = (
                        r.get("total_fare"), r.get("count_trips"), r.get("average_fare"),
                        r.get("max_fare"), r.get("min_fare"),
                    )
    return out


def check_kpis(got: dict[str, tuple], expected: dict[str, tuple]) -> list[str]:
    """Every KPI row equal to the cent; counts exactly."""
    errors = []
    if got.keys() != expected.keys():
        errors.append(f"KPI dates differ: got {sorted(got)}, want {sorted(expected)}")
    for d in sorted(got.keys() & expected.keys()):
        g, w = got[d], expected[d]
        ok = len(g) == 5 and g[1] == w[1] and all(
            isinstance(a, (int, float)) and abs(a - b) < 0.005
            for a, b in zip(g[:1] + g[2:], w[:1] + w[2:])
        )
        if not ok:
            errors.append(f"KPI {d}: got {g}, want {w}")
    return errors[:10]


# ------------------------------------------------------------ trip state


def lifecycle_expected(rnd: gen.LifecycleRound, timeout: dt.timedelta) -> dict[str, tuple]:
    """One outcome per trip, folded batch by batch in arrival order: the
    first start opens the trip, the first end at or after it and within
    ``timeout`` completes it, and a trip still open when the round's
    tick passes its timeout expires. Within a batch events are taken in
    time order, starts before ends at equal times. Returns trip_id ->
    (status, pickup, dropoff, fare)."""
    pickup: dict[str, dt.datetime] = {}
    out: dict[str, tuple] = {}
    for batch in rnd.batches:
        recs = sorted(batch.records, key=lambda r: (r.ts, r.kind != "start"))
        for r in recs:
            if r.trip_id == gen.TICK_TRIP_ID or r.trip_id in out:
                continue
            if r.kind == "start":
                pickup.setdefault(r.trip_id, r.ts)
            elif r.trip_id in pickup and pickup[r.trip_id] <= r.ts <= pickup[r.trip_id] + timeout:
                out[r.trip_id] = ("completed", pickup[r.trip_id], r.ts, r.fare_cents / 100)
    for trip_id, p in pickup.items():
        out.setdefault(trip_id, ("expired", p, None, None))
    return out


def check_lifecycle(
    rows: list[dict], expected: dict[str, tuple], fault_ids: set[str]
) -> tuple[list[str], int]:
    """Compare the emitted outcomes with the fold. Every trip must have
    the fold's outcome. A planted fault trip (``fault_ids``) with more
    than one outcome is a failed operation, not a wrong result, as long
    as its extra outcomes keep its pickup; a second outcome for any
    other trip is an error. Returns (errors, failed)."""
    by_trip: dict[str, list[tuple]] = {}
    for row in rows:
        fare = row["fare_amount"]
        by_trip.setdefault(row["trip_id"], []).append(
            (row["status"], _naive(row["pickup_datetime"]), _naive(row["dropoff_datetime"]),
             None if fare is None else fare)
        )
    errors = []
    failed = 0
    for trip_id in expected.keys() - by_trip.keys():
        errors.append(f"trip {trip_id} has no outcome")
    for trip_id in by_trip.keys() - expected.keys():
        errors.append(f"unexpected trip {trip_id}")
    for trip_id, outs in by_trip.items():
        want = expected.get(trip_id)
        if want is None:
            continue
        if want not in outs:
            errors.append(f"trip {trip_id}: got {outs}, want {want}")
        elif len(outs) > 1:
            extra = list(outs)
            extra.remove(want)
            if trip_id not in fault_ids:
                errors.append(f"trip {trip_id}: extra outcomes {extra}")
            elif any(o[1] != want[1] for o in extra):
                errors.append(f"fault trip {trip_id}: extra outcome with another pickup {extra}")
            else:
                failed += 1
    return errors[:10], failed


# ------------------------------------------------------------- commands


def _ingest_batches(seed: int, n: int) -> list[gen.Batch]:
    import workloads  # noqa: PLC0415

    wire = workloads.ingest_wire(seed)
    return [wire.next_batch() for _ in range(n)]


def _gold_batches(seed: int) -> list[gen.Batch]:
    import workloads  # noqa: PLC0415

    wire = workloads.gold_wire(seed)
    return [wire.next_batch() for _ in range(workloads.GOLD_APPENDS)]


def expected_results(workload: str, seed: int, batches: int, rounds: int) -> dict:
    if workload == "ingest_redelivery":
        bs = _ingest_batches(seed, batches)
        return {
            "bronze": sorted(
                [list(k) + [v[0].isoformat(sep=" "), v[1], v[2]] for k, v in bronze_winners(bs).items()]
            ),
            "dlq": sorted([list(k) + [n] for k, n in dlq_expected(bs).items()], key=str),
        }
    if workload == "gold_daily_kpi":
        return {"daily_kpis": kpis_expected(trip_table(_gold_batches(seed)))}
    import workloads  # noqa: PLC0415

    out = {}
    for r in range(rounds):
        rnd = workloads.lifecycle_round(seed, r)
        exp = lifecycle_expected(rnd, gen.LIFECYCLE_TIMEOUT)
        out[f"round{r}"] = {
            k: [v[0], str(v[1]), None if v[2] is None else str(v[2]), v[3]] for k, v in sorted(exp.items())
        }
    return out


def self_test(seed: int) -> int:
    """Run every check on the expected results themselves (must pass)
    and on a copy with one planted wrong row (must fail)."""
    import workloads  # noqa: PLC0415

    failures = []

    def expect(name: str, errors: list[str], should_fail: bool) -> None:
        if bool(errors) != should_fail:
            failures.append(f"{name}: {'passed' if not errors else errors[0]}")

    bs = _ingest_batches(seed, 6)
    win = bronze_winners(bs)
    rows = [
        {"trip_id": k[0], "event_type": k[1], "event_datetime": v[0], "fare_amount": v[1], "seq": v[2]}
        for k, v in win.items()
    ]
    expect("bronze", check_bronze(rows, win), False)
    bad = [dict(r) for r in rows]
    bad[len(bad) // 2]["fare_amount"] += 0.01
    expect("bronze planted fare", check_bronze(bad, win), True)
    expect("bronze planted extra row", check_bronze(rows + [dict(rows[0], trip_id="zz")], win), True)
    expect("bronze planted duplicate", check_bronze(rows + [rows[0]], win), True)

    dlq = dlq_expected(bs)
    dlq_rows = [
        {"_corrupt_record": k[1], "seq": None} if k[0] == "raw" else {"_corrupt_record": None, "seq": k[1]}
        for k, n in dlq.items()
        for _ in range(n)
    ]
    expect("dlq", check_dlq(dlq_rows, dlq), False)
    expect("dlq planted row", check_dlq(dlq_rows + [{"_corrupt_record": None, "seq": 1}], dlq), True)

    kpis = kpis_expected(trip_table(_gold_batches(seed)))
    expect("kpis", check_kpis(dict(kpis), kpis), False)
    d0 = sorted(kpis)[0]
    planted = dict(kpis)
    planted[d0] = (kpis[d0][0] + 0.01,) + kpis[d0][1:]
    expect("kpis planted cent", check_kpis(planted, kpis), True)

    rnd = workloads.lifecycle_round(seed, 0)
    exp = lifecycle_expected(rnd, gen.LIFECYCLE_TIMEOUT)
    out_rows = [
        {"trip_id": k, "status": v[0], "pickup_datetime": v[1], "dropoff_datetime": v[2], "fare_amount": v[3]}
        for k, v in exp.items()
    ]
    errs, failed = check_lifecycle(out_rows, exp, rnd.fault_ids)
    expect("lifecycle", errs, False)
    if failed:
        failures.append(f"lifecycle: {failed} failed on the expected rows")
    done = next(r for r in out_rows if r["status"] == "completed" and r["trip_id"] not in rnd.fault_ids)
    planted_rows = [dict(r) for r in out_rows]
    planted_rows[out_rows.index(done)]["fare_amount"] += 1.0
    expect("lifecycle planted fare", check_lifecycle(planted_rows, exp, rnd.fault_ids)[0], True)
    expect("lifecycle planted second outcome",
           check_lifecycle(out_rows + [dict(done, status="expired")], exp, rnd.fault_ids)[0], True)
    fault = next(r for r in out_rows if r["trip_id"] in rnd.fault_ids)
    errs, failed = check_lifecycle(out_rows + [dict(fault, status="expired")], exp, rnd.fault_ids)
    if errs or failed != 1:
        failures.append(f"lifecycle fault second outcome: errors={errs[:1]}, failed={failed}")
    wrong_first = [dict(r, fare_amount=r["fare_amount"] + 1.0) if r is fault else r for r in out_rows]
    expect("lifecycle planted fault fare",
           check_lifecycle(wrong_first + [dict(fault, status="expired")], exp, rnd.fault_ids)[0], True)
    for f in failures:
        print("FAIL", f)
    print("self-test", "failed" if failures else "passed")
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["ingest_redelivery", "gold_daily_kpi", "trip_lifecycle_state"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--batches", type=int, default=20, help="ingest batches delivered")
    ap.add_argument("--rounds", type=int, default=1, help="trip-state rounds run")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if args.self_test:
        return self_test(args.seed)
    if not args.workload:
        ap.error("--workload or --self-test is required")
    json.dump(expected_results(args.workload, args.seed, args.batches, args.rounds), sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
