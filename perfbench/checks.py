"""Correctness checks. Each returns a ``Tally`` of attempted and failed items.

``failed_frac`` = failed / attempted, where an item is one expected
article, one pipeline invariant, or one query compared with its oracle.
An item fails when the article is an error article, differs from the
expected one, is missing or duplicated, or when the query's rows differ.
"""

from __future__ import annotations

from dataclasses import dataclass, field

ARTICLE_FIELDS = ("title", "text", "text_length", "score", "next_page", "skip_level")


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def add(self, other: Tally) -> Tally:
        self.attempted += other.attempted
        self.failed += other.failed
        self.notes.extend(other.notes)
        return self

    def check(self, ok: bool, note: str) -> None:
        """Count one item; record ``note`` when it fails."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def check_articles(rows: list[dict], expected: dict[str, dict]) -> Tally:
    """Compare extracted article rows with the expected article per url.

    Every expected url must appear exactly once, without the error flag,
    with each of ``ARTICLE_FIELDS`` equal. Rows for unknown urls and
    repeated urls count as extra failed items.
    """
    tally = Tally()
    seen: set[str] = set()
    for row in rows:
        url = row["url"]
        exp = expected.get(url)
        if exp is None or url in seen:
            tally.check(False, f"unexpected or repeated url {url!r}")
            continue
        seen.add(url)
        bad = [k for k in ARTICLE_FIELDS if _norm(row[k]) != _norm(exp[k])]
        if row.get("error"):
            bad.insert(0, "error")
        tally.check(not bad, f"{url}: {', '.join(bad)} differ")
    missing = len(expected) - len(seen)
    tally.attempted += missing
    tally.failed += missing
    if missing:
        tally.notes.append(f"{missing} expected urls missing")
    return tally


def _norm(v):
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def check_query(name: str, cols: list[str], rows: list[tuple],
                oracle_cols: list[str], oracle_rows: list) -> Tally:
    """One query against its oracle, normalized as tests/harness.py does
    (columns sorted by name, rows sorted, floats rounded to 6 places).
    ``oracle_rows`` is already normalized."""
    from tests.harness import _norm_rows

    tally = Tally()
    if sorted(cols) != sorted(oracle_cols):
        tally.check(False, f"{name}: columns {cols} != {oracle_cols}")
        return tally
    got = _norm_rows(cols, rows)
    tally.check(got == oracle_rows,
                f"{name}: {len(got)} rows vs oracle {len(oracle_rows)}, values differ")
    return tally
