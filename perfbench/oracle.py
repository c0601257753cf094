"""Independent correctness oracles, computed with DuckDB straight from
the input parquet and compared with what a job wrote.

The validation oracle re-derives, row by row, the first failing check
in the cascade order of ``operators.cascade.sequence_checks`` for the
default suite, plus ``duplicate_key`` rows (a key seen more than once
in the table, or in the stored table under resume), and compares the
per-check counts with the job's violations table.
"""

from __future__ import annotations

import glob
import os

import duckdb

# The default suite's cascade, in order, as SQL fail predicates.
CASCADE = (
    ("null_payload", "tokens IS NULL"),
    ("empty_payload", "len(tokens) = 0"),
    ("null_key", "source IS NULL OR source = ''"),
    ("inconsistent_n_tok", "n_tok IS NULL OR n_tok <> len(tokens)"),
    ("too_short", "n_tok < {min_n_tok}"),
    ("too_long", "n_tok > {max_n_tok}"),
)


def check_cascade_order(suite) -> None:
    """Refuse to run when the program's cascade order is not the
    oracle's (needs an active Spark session to build the checks)."""
    from teleharvest_spark.operators.cascade import sequence_checks

    program = [c.name for c in sequence_checks(suite)]
    if program != [name for name, _ in CASCADE]:
        raise RuntimeError(f"cascade order {program} differs from the oracle's")


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _scan(path: str, hive: bool = False) -> str:
    files = _files(path)
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{lst}]{', hive_partitioning = true' if hive else ''})"


def expected_violations(
    rows_path: str,
    min_n_tok: int,
    max_n_tok: int,
    stored_path: str | None = None,
) -> dict:
    """Per-check violation counts, row count and partition count the
    suite must report for the rows under ``rows_path``. Keys stored
    under ``stored_path`` (already-validated rows) count toward
    duplicates of these rows."""
    case = " ".join(
        f"WHEN coalesce({pred.format(min_n_tok=min_n_tok, max_n_tok=max_n_tok)}, false) "
        f"THEN '{name}'"
        for name, pred in CASCADE
    )
    keys = f"SELECT doc_id FROM {_scan(rows_path)}"
    if stored_path:
        keys += f" UNION ALL SELECT doc_id FROM {_scan(stored_path)}"
    con = duckdb.connect()
    try:
        first_fail = dict(
            con.execute(
                f"SELECT CASE {case} END AS c, count(*) FROM {_scan(rows_path)} "
                "GROUP BY c HAVING c IS NOT NULL"
            ).fetchall()
        )
        dup_rows, dup_keys = con.execute(
            f"WITH k AS (SELECT doc_id, count(*) AS n FROM ({keys}) GROUP BY doc_id) "
            f"SELECT count(*), count(DISTINCT r.doc_id) FROM {_scan(rows_path)} r "
            "JOIN k ON r.doc_id IS NOT DISTINCT FROM k.doc_id WHERE k.n > 1"
        ).fetchone()
        n_rows, n_parts = con.execute(
            "SELECT count(*), count(DISTINCT source) + max((source IS NULL)::INT) "
            f"FROM {_scan(rows_path)}"
        ).fetchone()
    finally:
        con.close()
    if dup_rows:
        first_fail["duplicate_key"] = dup_rows
    return {"by_check": first_fail, "rows": n_rows, "partitions": n_parts, "dup_keys": dup_keys}


def observed_violations(violations_path: str, source: str | None = None) -> dict:
    """Per-check counts (and distinct duplicated keys) in a violations
    table, optionally restricted to one source."""
    where = "" if source is None else "WHERE source = '" + source.replace("'", "''") + "'"
    con = duckdb.connect()
    try:
        scan = _scan(violations_path, hive=True)
        by_check = dict(
            con.execute(f"SELECT check_name, count(*) FROM {scan} {where} GROUP BY 1").fetchall()
        )
        dup_where = (where + " AND " if where else "WHERE ") + "check_name = 'duplicate_key'"
        dup_keys = con.execute(
            f"SELECT count(DISTINCT doc_id) FROM {scan} {dup_where}"
        ).fetchone()[0]
    finally:
        con.close()
    return {"by_check": by_check, "dup_keys": dup_keys}


def parquet_rows(path: str) -> int:
    if not _files(path):
        return 0
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT count(*) FROM {_scan(path, hive=True)}").fetchone()[0]
    finally:
        con.close()


def compare_counts(expected: dict, observed: dict) -> list[str]:
    errors = []
    for name in sorted(set(expected) | set(observed)):
        e, o = expected.get(name, 0), observed.get(name, 0)
        if e != o:
            errors.append(f"{name}: expected {e} violation rows, job wrote {o}")
    return errors


def check_validate(report: dict, out_dir: str, run_id: str, expected: dict) -> list[str]:
    """A full validation job against the oracle."""
    errors = []
    if report.get("skipped"):
        errors.append("job reported skipped")
    obs = observed_violations(os.path.join(out_dir, "violations"))
    errors += compare_counts(expected["by_check"], obs["by_check"])
    if report.get("validated_rows") != expected["rows"]:
        errors.append(f"validated_rows {report.get('validated_rows')} != {expected['rows']}")
    n_verdicts = parquet_rows(os.path.join(out_dir, "verdicts", run_id))
    if n_verdicts != expected["partitions"] or report.get("partitions") != expected["partitions"]:
        errors.append(
            f"verdict partitions: report {report.get('partitions')}, "
            f"table {n_verdicts}, expected {expected['partitions']}"
        )
    return errors


def check_resume(
    report: dict, out_dir: str, run_id: str, expected: dict, new_source: str
) -> list[str]:
    """A resume job that must revalidate exactly the new partition."""
    errors = []
    if report.get("skipped"):
        errors.append("job reported skipped")
    obs = observed_violations(os.path.join(out_dir, "violations"), source=new_source)
    errors += compare_counts(expected["by_check"], obs["by_check"])
    if report.get("validated_rows") != expected["rows"]:
        errors.append(f"validated_rows {report.get('validated_rows')} != {expected['rows']}")
    if report.get("partitions") != 1:
        errors.append(f"resume revalidated {report.get('partitions')} partitions, expected 1")
    con = duckdb.connect()
    try:
        n = con.execute(
            f"SELECT count(*) FROM {_scan(os.path.join(out_dir, '_validation_manifest'))} "
            "WHERE partition = ? AND validated_at_run = ?",
            [new_source, run_id],
        ).fetchone()[0]
    finally:
        con.close()
    if n != 1:
        errors.append(f"manifest has {n} rows for {new_source} at run {run_id}, expected 1")
    return errors


def check_prep(n_docs: int, out_dir: str) -> tuple[list[str], dict]:
    """Conservation (kept + quality-failed + dedup-dropped = input), no
    two kept docs with identical text, and an output digest."""
    errors = []
    con = duckdb.connect()
    try:
        kept = parquet_rows(os.path.join(out_dir, "dedup_docs"))
        failed = parquet_rows(os.path.join(out_dir, "quality_violations"))
        dropped = con.execute(
            f"SELECT count(DISTINCT c.doc_id) FROM {_scan(os.path.join(out_dir, 'clean_docs'))} c "
            f"JOIN {_scan(os.path.join(out_dir, 'dup_components'))} d ON c.doc_id = d.node "
            "WHERE d.node <> d.component"
        ).fetchone()[0]
        same_text = con.execute(
            f"SELECT count(*) FROM (SELECT text FROM {_scan(os.path.join(out_dir, 'dedup_docs'))} "
            "GROUP BY text HAVING count(*) > 1)"
        ).fetchone()[0]
        digest = []
        for sub in ("packs", "corpus_shuffled"):
            scan = _scan(os.path.join(out_dir, sub), hive=True)
            digest.append(
                con.execute(
                    f"SELECT count(*), sum(hash(COLUMNS(*))::HUGEINT) FROM {scan}"
                ).fetchone()
            )
    finally:
        con.close()
    if kept + failed + dropped != n_docs:
        errors.append(
            f"kept {kept} + quality-failed {failed} + dropped {dropped} != input {n_docs}"
        )
    if same_text:
        errors.append(f"{same_text} texts kept more than once")
    return errors, {"kept": kept, "failed": failed, "dropped": dropped, "digest": repr(digest)}
