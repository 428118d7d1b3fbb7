"""Pure-Python models of what each benchmark op must produce.

Nothing here imports Spark or ``dbimport_spark``: the expectations are
derived from the generated inputs alone, so a defect in the engine cannot
leak into the oracle that judges it.

* ``CsvImportModel`` mirrors one warehouse table under the CLI's
  ``UPSERT -k id -duplicate UPDATE_ALL_JOIN`` import: per-field validity,
  the last-row-wins collapse of duplicate keys, the update/insert split
  and the statistics line.
* ``LakeModel`` mirrors a keyed lake table version by version, so time
  travel and change ranges can be answered for any committed version.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import re

CSV_COLUMNS = ("id", "name", "qty", "price", "day")

_INT_RE = re.compile(r"^[+-]?[0-9]+$")
_DECIMAL_RE = re.compile(r"^[+-]?[0-9]+\.[0-9]+$")
_DATE_RE = re.compile(r"^([0-9]{4})-([0-9]{2})-([0-9]{2})$")
_INT_MAX = 2**31 - 1


def parse_int(s: str):
    if not _INT_RE.match(s):
        return None
    v = int(s)
    return v if -_INT_MAX - 1 <= v <= _INT_MAX else None


def parse_decimal(s: str):
    return float(s) if _DECIMAL_RE.match(s) else None


def parse_date(s: str):
    m = _DATE_RE.match(s)
    if not m:
        return None
    try:
        return _dt.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    except ValueError:
        return None


_PARSERS = (parse_int, str, parse_int, parse_decimal, parse_date)


def parse_csv_row(fields: list[str]):
    """Typed row for a raw ``id;name;qty;price;day`` record, or None when
    any typed field is malformed (the import routes that row to the
    error file)."""
    out = []
    for parse, raw in zip(_PARSERS, fields):
        v = parse(raw)
        if v is None:
            return None
        out.append(v)
    return tuple(out)


def row_digest(rows) -> str:
    """Order-independent digest of a multiset of rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class CsvImportModel:
    """One warehouse table: key → typed row."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}
        self.exists = False

    def apply(self, records: list[list[str]]) -> dict:
        """Apply one import of ``records`` (raw field lists in file order);
        return the expected statistics plus the 1-based data indexes of
        the invalid records."""
        valid, invalid_idx = [], []
        for i, rec in enumerate(records, start=1):
            row = parse_csv_row(rec)
            if row is None:
                invalid_idx.append(i)
            else:
                valid.append(row)
        collapsed: dict[int, tuple] = {}
        for row in valid:  # later occurrence wins, column by column;
            collapsed[row[0]] = row  # no nulls, so the last row wins whole
        updated = sum(1 for k in collapsed if k in self.rows)
        self.rows.update(collapsed)
        created = not self.exists
        self.exists = True
        return {
            "created": created,
            "found": len(records),
            "valid": len(valid),
            "invalid": len(invalid_idx),
            "duplicate": len(valid) - len(collapsed),
            "inserted": len(collapsed) - updated,
            "updated": updated,
            "invalid_idx": invalid_idx,
        }

    def digest(self) -> str:
        return row_digest(self.rows.values())


class LakeModel:
    """Keyed lake table with its version history.

    ``history[v]`` is the key → row map committed at version ``v``;
    versions that only change table properties repeat the previous map."""

    def __init__(self) -> None:
        self.history: list[dict] = []

    @property
    def version(self) -> int:
        return len(self.history) - 1

    @property
    def rows(self) -> dict:
        return self.history[-1] if self.history else {}

    def commit(self, upserts=(), deletes=()) -> int:
        cur = dict(self.rows)
        for r in upserts:
            cur[r[0]] = tuple(r)
        for k in deletes:
            cur.pop(k, None)
        self.history.append(cur)
        return self.version

    def lookup(self, key, version: int | None = None):
        snap = self.history[self.version if version is None else version]
        return [snap[key]] if key in snap else []

    def range_rows(self, lo, hi, version: int) -> list:
        return [r for k, r in self.history[version].items() if lo <= k <= hi]

    def changes(self, v_from: int, v_to: int) -> list:
        """Row-level change feed between two versions as
        ``(change_type, row)`` pairs (insert / update / delete)."""
        old, new = self.history[v_from], self.history[v_to]
        out = []
        for k, r in new.items():
            if k not in old:
                out.append(("insert", r))
            elif old[k] != r:
                out.append(("update", r))
        out.extend(("delete", r) for k, r in old.items() if k not in new)
        return out

    def digest(self) -> str:
        return row_digest(self.rows.values())
