"""Pieces shared by the workloads: the op record, result digests, the
row comparison used by the oracle checks, and the counter-repeat check."""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
from dataclasses import dataclass
from typing import Callable

import spans as S


@dataclass
class Op:
    name: str
    fn: Callable[[], object]


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    text = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return hashlib.sha1(text.encode()).hexdigest()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)  # DuckDB DATE
    return v


def _sorted_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [cols[i] for i in order], out


def compare_rows(name: str, cols_a: list[str], rows_a, cols_b: list[str], rows_b,
                 rel_tol: float = 0.0) -> list[str]:
    """Problems found comparing two results as bags of rows (column order
    ignored). Floats must match exactly unless ``rel_tol`` is given."""
    if sorted(cols_a) != sorted(cols_b):
        return [f"{name}: columns {sorted(cols_a)} != {sorted(cols_b)}"]
    ca, ra = _sorted_rows(cols_a, rows_a)
    _, rb = _sorted_rows(cols_b, rows_b)
    if len(ra) != len(rb):
        return [f"{name}: {len(ra)} rows != {len(rb)} rows"]
    for x, y in zip(ra, rb):
        for c, a, b in zip(ca, x, y):
            if a == b or str(a) == str(b):
                continue
            if (rel_tol and isinstance(a, float) and isinstance(b, float)
                    and math.isclose(a, b, rel_tol=rel_tol)):
                continue
            return [f"{name}: column {c}: {a!r} != {b!r}"]
    return []


class Workload:
    """One benchmark workload. Subclasses set ``name`` and implement
    ``setup``, ``ops``, ``check`` and ``layer_metrics``."""

    name = ""

    def __init__(self, spark, tracer, seed: int, tier: str, nproc: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.tier = tier
        self.nproc = nproc
        self.checked: list[str] = []  # names of the checks run

    def instrument(self) -> None:
        """Wrap engine entry points in spans (a no-op unless tracing)."""

    def trace_lake_reads(self) -> None:
        """Span every ``LakeTable.read`` and record the files it plans."""
        from apache_iceberg_lakehouse_workshop_spark.plans import lakeshim

        def files(rec, df):
            rec["files"] = sorted(set(df.inputFiles()))

        self.tracer.wrap(lakeshim.LakeTable, "read", "lakeshim", "read", after=files)

    def digest(self, name: str, result) -> str:
        return rows_digest(result)

    # ---------------------------------------------------- traced metrics

    def pass_spans(self, spans: list[dict]) -> list[dict]:
        return [s for s in spans if s["phase"] == "pass"]

    def counter_table(self, spans: list[dict]) -> dict[str, dict[str, int]]:
        """Exact counters per (layer, op) of one pass, summed over calls."""
        out: dict[str, dict[str, int]] = {}
        for s in spans:
            if s["layer"] == "bench":
                continue
            row = out.setdefault(f"{s['layer']}.{s['op']}", dict.fromkeys(S.EXACT, 0))
            for k in S.EXACT:
                row[k] += s[k]
        return out

    def unstable_counters(self, spans: list[dict], out_root: str) -> list[str]:
        """Counters of the traced pass that differ from those of the last
        traced run with the same workload, seed, tier and core count."""
        now = self.counter_table(self.pass_spans(spans))
        path = os.path.join(
            out_root, "runs",
            f"counters-{self.name}-seed{self.seed}-{self.tier}-n{self.nproc}.json")
        bad: set[str] = set()
        if os.path.exists(path):
            with open(path) as f:
                before = json.load(f)
            bad = {f"{op}.{k}" for op in now.keys() | before.keys() for k in S.EXACT
                   if now.get(op, {}).get(k) != before.get(op, {}).get(k)}
        with open(path, "w") as f:
            json.dump(now, f, indent=1, sort_keys=True)
        return sorted(bad)

    def common_metrics(self, spans: list[dict], first: dict, session_start_s: float,
                       unstable: list[str]) -> dict[str, float]:
        pass_spans = self.pass_spans(spans)
        out = {
            "session.start_s": session_start_s,
            # traced wall: minus pass_s of an untraced run with the same seed,
            # it is the tracing overhead seen end to end
            "trace.pass_s": first["wall"],
            "trace.overhead_s": S.total(pass_spans, "overhead_s"),
            "trace.unstable_counters": len(unstable),
        }
        # only layers that ran in the traced pass get a self time
        for layer, v in S.self_seconds(pass_spans).items():
            out[f"{layer}.self_s"] = v
        return out
