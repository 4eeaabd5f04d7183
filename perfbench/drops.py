"""Seeded daily raw drops for the telecom sources, with the result the
pipeline must produce computed in plain Python.

Each day yields one `call_logs` CSV, one `social` JSON-lines file and
one `web_complaints` Parquet file with the raw header spellings of the
reference sources and the dirt the cleaning chain exists for: padded
strings, exact duplicate rows (some differing only in padding), all-empty
rows, empty-string NULLs, and header order and case that drift from day
to day. A few rows carry NULL or repeated business keys, so the batch
audits have violations to count.

The expected outcome per day and source mirrors the cleaning chain:
trim spaces, empty string to NULL, drop all-NULL rows, drop exact
duplicates; then not_null counts and unique-key violations
(sum of count - 1 over repeated non-NULL keys).
"""

from __future__ import annotations

import csv
import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# value choices per column kind; these are the padded string kinds
CHOICES = {
    "cat": ["Billing", "Network Outage", "Roaming", "SIM Issue", "Data Plan"],
    "status": ["Resolved", "Unresolved", "In-Progress"],
    "channel": ["Twitter", "Facebook", "Instagram", "Forum"],
}

# (raw header, kind) per source; kind picks the value generator in _row
CALL_LOGS = [
    ("call ID", "id"), ("customeR iD", "id"), ("COMPLAINT_catego ry", "cat"),
    ("agent ID", "id"), ("call_start_time", "ts"), ("call_end_time", "ts"),
    ("resolutionstatus", "status"), ("callLogsGenerationDate", "day"),
]
SOCIAL = [
    ("complaint_id", "id"), ("customeR iD", "id"),
    ("COMPLAINT_catego ry", "cat"), ("agent ID", "id"),
    ("resolutionstatus", "status"), ("request_date", "day"),
    ("resolution_date", "day"), ("media_channel", "channel"),
    ("MediaComplaintGenerationDate", "day"),
]
WEB = [
    ("Column1", "id"), ("request_id", "id"), ("customeR iD", "id"),
    ("COMPLAINT_catego ry", "cat"), ("agent ID", "id"),
    ("resolutionstatus", "status"), ("request_date", "day"),
    ("resolution_date", "day"), ("webFormGenerationDate", "day"),
]

# source name -> (format, raw columns, file extension, raw key header)
SOURCES = {
    "call_logs": ("csv", CALL_LOGS, ".csv", "call ID"),
    "social": ("json", SOCIAL, ".json", "complaint_id"),
    "web_complaints": ("parquet", WEB, ".parquet", "request_id"),
}
RENAMES = {
    "call_logs": {
        "complaint_catego_ry": "complaint_category",
        "resolutionstatus": "resolution_status",
        "calllogsgenerationdate": "call_logs_generation_date",
    },
    "social": {
        "complaint_catego_ry": "complaint_category",
        "resolutionstatus": "resolution_status",
        "mediacomplaintgenerationdate": "media_complaint_generation_date",
    },
    "web_complaints": {
        "complaint_catego_ry": "complaint_category",
        "resolutionstatus": "resolution_status",
        "webformgenerationdate": "web_form_generation_date",
    },
}
KEYS = {"call_logs": "call_id", "social": "complaint_id",
        "web_complaints": "request_id"}
NOT_NULL = ("customer_id", "agent_id")


@dataclass
class DayExpect:
    """What landing one source's drop for one day must produce."""

    file: str
    raw_rows: int
    raw_bytes: int
    landed_rows: int
    audits: dict[tuple[str, str], int] = field(default_factory=dict)


def _drift(rng, columns):
    """Shuffle column order and flip the case of a few header letters."""
    order = [columns[i] for i in rng.permutation(len(columns))]
    out = []
    for name, kind in order:
        chars = list(name)
        for i in rng.choice(len(chars), size=min(2, len(chars)), replace=False):
            chars[i] = chars[i].swapcase()
        out.append(("".join(chars), name, kind))
    return out


def _values(rng, kind, n, day) -> list:
    """n clean values of one column kind."""
    base = np.datetime64("2024-01-01") + day
    if kind == "id":
        return rng.integers(1, 500, n).tolist()
    if kind in CHOICES:
        names = CHOICES[kind]
        return [names[i] for i in rng.integers(0, len(names), n)]
    if kind == "ts":
        t = base.astype("datetime64[s]") + rng.integers(0, 86_400, n)
        return [v.replace("T", " ") for v in t.astype(str)]
    days = [(base - k).item() for k in range(5)]  # "day": up to 4 days back
    return [days[k] for k in rng.integers(0, 5, n)]


def _rows(rng, columns, day, n, key_col) -> dict[str, list]:
    """n raw rows, column by column (None = empty/missing): ~3% copies of
    an earlier row, ~0.5% all-empty rows, ~0.5% NULL customer ids, ~0.3%
    keys repeated from an earlier row and ~2% empty-string statuses."""
    cols = {name: _values(rng, kind, n, day) for name, kind in columns}
    cols[key_col] = list(range(day * 1_000_000, day * 1_000_000 + n))
    u = rng.random(n)
    earlier = (rng.random(n) * np.arange(n)).astype(int)
    for i in np.flatnonzero((u >= 0.035) & (u < 0.04)):
        cols["customeR iD"][i] = None
    for i in np.flatnonzero((u >= 0.043) & (u < 0.063)):
        cols["resolutionstatus"][i] = ""
    for i in np.flatnonzero(u < 0.035):
        for v in cols.values():
            v[i] = None
    # in row order, so a copied row is already final
    for i in np.flatnonzero((u < 0.03) | ((u >= 0.04) & (u < 0.043))):
        if i == 0:
            continue
        j = earlier[i]
        for name, v in cols.items():
            if u[i] < 0.03 or name == key_col:
                v[i] = v[j]
    return cols


def _clean_name(name: str) -> str:
    """The engine's column-name normalisation (lower_snake_case)."""
    norm = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip()).strip("_").lower()
    return re.sub(r"_+", "_", norm)


def _expect(src: str, cols: dict[str, list]) -> tuple[int, dict]:
    renames = RENAMES[src]
    names = [renames.get(_clean_name(n), _clean_name(n)) for n in cols]
    clean = [
        [(v.strip(" ") or None) if isinstance(v, str) else v for v in vals]
        for vals in cols.values()
    ]
    distinct = {r for r in zip(*clean) if any(v is not None for v in r)}
    key_i = names.index(KEYS[src])
    audits = {("not_null", KEYS[src]): sum(r[key_i] is None for r in distinct)}
    for c in NOT_NULL:
        i = names.index(c)
        audits[("not_null", c)] = sum(r[i] is None for r in distinct)
    counts = Counter(r[key_i] for r in distinct if r[key_i] is not None)
    audits[("unique", KEYS[src])] = sum(c - 1 for c in counts.values() if c > 1)
    return len(distinct), audits


def _dirty(rng, header, cols) -> list[tuple[str, str, list]]:
    """(raw header, kind, values) in file order, with 0-2 spaces of
    padding on each side of every category, status and channel value."""
    out = []
    for raw, name, kind in header:
        vals = cols[name]
        if kind in CHOICES:
            pads = rng.integers(0, 3, (len(vals), 2))
            vals = [v if v is None else " " * a + v + " " * b
                    for v, (a, b) in zip(vals, pads.tolist())]
        out.append((raw, kind, vals))
    return out


def _text(kind, vals) -> list:
    return [v.isoformat() if v is not None else None for v in vals] \
        if kind == "day" else vals


def _write_csv(path, columns):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow([raw for raw, _, _ in columns])
        w.writerows(zip(*(_text(k, v) for _, k, v in columns)))


def _write_json(path, columns):
    raws = [raw for raw, _, _ in columns]
    with open(path, "w") as f:
        for row in zip(*(_text(k, v) for _, k, v in columns)):
            obj = {k: v for k, v in zip(raws, row) if v is not None}
            f.write(json.dumps(obj) + "\n")


def _write_parquet(path, columns):
    types = {"id": pa.int64(), "day": pa.date32()}
    schema = pa.schema([(raw, types.get(kind, pa.string()))
                        for raw, kind, _ in columns])
    arrays = [pa.array(v, type=f.type) for (_, _, v), f in zip(columns, schema)]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


_WRITERS = {"csv": _write_csv, "json": _write_json, "parquet": _write_parquet}


def write_day(
    dst: str, seed: int, day: int, rows_per_day: dict[str, int]
) -> dict[str, DayExpect]:
    """Write day `day`'s drop of each source under dst/<source>/ and
    return each source's expected outcome. A day's files depend only on
    the seed and the day."""
    rng = np.random.default_rng([seed, day])
    today = {}
    for src, (fmt, columns, ext, key_col) in SOURCES.items():
        os.makedirs(os.path.join(dst, src), exist_ok=True)
        cols = _rows(rng, columns, day, rows_per_day[src], key_col)
        landed, audits = _expect(src, cols)
        name = f"{src}_{np.datetime64('2024-01-01') + day}{ext}"
        path = os.path.join(dst, src, name)
        _WRITERS[fmt](path, _dirty(rng, _drift(rng, columns), cols))
        today[src] = DayExpect(
            name, rows_per_day[src], os.path.getsize(path), landed, audits
        )
    return today
