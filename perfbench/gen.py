"""Seeded input generator for the ``elt_medallion`` workload.

Everything here is plain numpy/pyarrow and runs before any timing starts.
The same ``seed`` always yields byte-identical inputs.

:func:`civil_cases` writes a civil-cases landing TSV in the reference's
46-column layout plus the CDC batches of one incremental day, and returns
what the generator knows about them: the row count, the expected dimension
tables and the post-CDC table keyed by DOCKET.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


# --------------------------------------------------------------------------
# civil-cases landing file + CDC day
# --------------------------------------------------------------------------


@dataclass
class CdcBatch:
    """One CDC batch keyed by DOCKET: rows to rewrite, keys to delete and a
    landing TSV of brand-new rows."""

    update_keys: list[int]
    delete_keys: list[int]
    insert_path: str
    insert_keys: list[int]


@dataclass
class CivilCases:
    landing_path: str
    rows: int
    landing_bytes: int
    #: dim table name -> set of (code, decoded name or None)
    dims: dict[str, set] = field(default_factory=dict)
    cdc: list[CdcBatch] = field(default_factory=list)
    #: DOCKET -> STATUSCD (None for the sentinel) of every case live after
    #: the CDC batches: updates set 'L', deletes remove, inserts add
    final_status: dict = field(default_factory=dict)


def _date_strings(rng, n: int) -> np.ndarray:
    days = _days(rng, n, dt.date(1990, 1, 1), dt.date(2021, 12, 31))
    ymd = days.astype("datetime64[D]").astype(object)
    return np.array([f"{d.month}/{d.day}/{d.year}" for d in ymd], dtype=object)


def _pick(rng, n: int, values: list[str], p_bad: float = 0.05) -> np.ndarray:
    """Codes from ``values`` with a share of the '-8' sentinel."""
    out = np.array(values, dtype=object)[rng.integers(0, len(values), n)]
    out[rng.random(n) < p_bad] = "-8"
    return out


def _landing_columns(rng, dockets: np.ndarray) -> dict[str, np.ndarray]:
    from data_engineer_development_spark.medallion import DIM_DECODES, RAW_COLUMNS

    n = len(dockets)
    digits = [str(i) for i in range(10)]
    cols: dict[str, np.ndarray] = {}
    for name in RAW_COLUMNS:
        if name in DIM_DECODES:
            codes = [str(k) for k in DIM_DECODES[name]]
            # one code outside each domain: decodes to a NULL name
            unknown = "ZZ" if isinstance(next(iter(DIM_DECODES[name])), str) else "97"
            if name == "JUDGMENT":
                codes.append("0")  # the column's second sentinel
            cols[name] = _pick(rng, n, codes + [unknown])
        elif name in ("FILEDATE", "FDATEUSE", "TRANSDAT", "TERMDATE", "TDATEUSE"):
            col = _date_strings(rng, n)
            col[rng.random(n) < 0.05] = "-8"
            cols[name] = col
        elif name in ("TRANSOFF", "TRANSDOC", "TRANSORG"):
            cols[name] = _pick(rng, n, digits + ["J", "A", "B", "S", "s"], 0.1)
        elif name in ("AMTREC", "JUDGMENT"):
            cols[name] = _pick(rng, n, ["0", "100", "2500", "99999"], 0.1)
        elif name == "TAPEYEAR":
            cols[name] = _pick(rng, n, [str(y) for y in range(2015, 2022)])
        else:
            cols[name] = _pick(rng, n, digits + ["11", "42", "305"])
    cols["DOCKET"] = np.array([str(d) for d in dockets], dtype=object)
    return cols


def _write_tsv(path: str, cols: dict[str, np.ndarray]) -> int:
    from data_engineer_development_spark.medallion import RAW_COLUMNS

    table = pa.table({c: pa.array(cols[c], pa.string()) for c in RAW_COLUMNS})
    pacsv.write_csv(
        table,
        path,
        pacsv.WriteOptions(delimiter="\t", quoting_style="none"),
    )
    return os.path.getsize(path)


def _expected_dims(cols: dict[str, np.ndarray]) -> dict[str, set]:
    from data_engineer_development_spark.medallion import DIM_DECODES, QUALITY_SPEC

    sentinels = {name: set(s) for name, _, s in QUALITY_SPEC}
    kinds = {name: kind for name, kind, _ in QUALITY_SPEC}
    out = {}
    for key, mapping in DIM_DECODES.items():
        rows = set()
        for raw in set(cols[key]):
            if raw in sentinels[key]:
                continue
            code = int(raw) if kinds[key] == "int" else raw
            rows.add((code, mapping.get(code)))
        out[f"Dim{key.capitalize()}"] = rows
    return out


def _status_by_docket(cols: dict[str, np.ndarray]) -> dict:
    """DOCKET -> STATUSCD as the quality zone types it (sentinel -> None)."""
    from data_engineer_development_spark.medallion import QUALITY_SPEC

    sentinels = next(s for name, _, s in QUALITY_SPEC if name == "STATUSCD")
    return {int(d): (None if st in sentinels else st)
            for d, st in zip(cols["DOCKET"], cols["STATUSCD"])}


def civil_cases(
    out_dir: str, rows: int, seed: int, cdc_batches: int, cdc_frac: float
) -> CivilCases:
    """Write the landing TSV (``rows`` cases) and ``cdc_batches`` CDC
    batches, each updating and deleting ``cdc_frac`` of the cases inside
    one random DOCKET window and inserting as many new cases. An update
    sets STATUSCD to 'L'."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    dockets = np.arange(100_000, 100_000 + rows, dtype=np.int64)
    cols = _landing_columns(rng, dockets)
    path = os.path.join(out_dir, "civil_cases.tsv")
    size = _write_tsv(path, cols)
    cc = CivilCases(path, rows, size, _expected_dims(cols))

    status = _status_by_docket(cols)
    original = sorted(status)
    next_key = int(dockets[-1]) + 1
    per_batch = max(1, int(rows * cdc_frac))
    window = min(rows, per_batch * 8)
    for b in range(cdc_batches):
        lo = int(rng.integers(0, rows - window + 1))
        in_window = [k for k in original[lo:lo + window] if k in status]
        picks = rng.permutation(len(in_window))[: 2 * per_batch]
        chosen = [in_window[i] for i in picks]
        updates = sorted(chosen[:per_batch])
        deletes = sorted(chosen[per_batch:])
        new_keys = np.arange(next_key, next_key + per_batch, dtype=np.int64)
        next_key += per_batch
        ins_path = os.path.join(out_dir, f"cdc_{b}_inserts.tsv")
        ins_cols = _landing_columns(rng, new_keys)
        _write_tsv(ins_path, ins_cols)
        cc.cdc.append(
            CdcBatch(updates, deletes, ins_path, [int(k) for k in new_keys])
        )
        status.update(dict.fromkeys(updates, "L"))
        for k in deletes:
            del status[k]
        status.update(_status_by_docket(ins_cols))
    cc.final_status = status
    return cc
