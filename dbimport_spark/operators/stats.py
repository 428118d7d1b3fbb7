"""Import result statistics.

Reference counters: DbImportWorker.getResultStatistics
(DbImportWorker.java:879-934) and the log block at :663-675 —
Found / Valid / Invalid / Duplicate / Deleted / Inserted / Updated items,
data amount, items/second.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ImportStatistics:
    items_found: int = 0       # rows read from the source
    items_valid: int = 0       # rows that passed coercion
    items_invalid: int = 0     # rows routed to the invalid side-output
    items_duplicate: int = 0   # rows collapsed by source dedup + cross-table anti
    items_deleted: int = 0     # CLEARINSERT pre-delete count
    items_inserted: int = 0
    items_updated: int = 0
    seconds_elapsed: float = 0.0
    # First 10 invalid items by source order, "item <n>: <reason>" with
    # the 1-based data index (DbImportWorker.java:889-894). The CLI fills
    # it from the rows its error-file extraction already collects;
    # run_import alone leaves it empty rather than run a job for it.
    invalid_reasons: list[str] = field(default_factory=list)

    @property
    def items_per_second(self) -> float:
        if self.seconds_elapsed <= 0:
            return 0.0
        return self.items_found / self.seconds_elapsed

    def as_dict(self) -> dict:
        return {
            "found": self.items_found,
            "valid": self.items_valid,
            "invalid": self.items_invalid,
            "duplicate": self.items_duplicate,
            "deleted": self.items_deleted,
            "inserted": self.items_inserted,
            "updated": self.items_updated,
            "seconds": round(self.seconds_elapsed, 3),
            "items_per_second": round(self.items_per_second, 1),
            "invalid_reasons": self.invalid_reasons,
        }
