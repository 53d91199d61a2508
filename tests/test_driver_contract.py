"""Simulates the driver's correctness gate: every queries() entry with
an oracle_sql() twin must match DuckDB on row count, column names, and
order-insensitive values at sf0.01 (driver contract in
__spark_entry__.py; gate semantics per the repo brief)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

import __spark_entry__ as E
from tests.conftest import SF_ORACLE


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    # unify null representations (None / NaN / pd.NA) across engines
    for col in pdf.columns:
        if pdf[col].dtype == object or str(pdf[col].dtype).startswith("string"):
            pdf[col] = pdf[col].astype(object)
            pdf[col] = pdf[col].where(pd.notna(pdf[col]), "\x00NULL")
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


def _compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s = _normalize(spark_pdf)
    d = _normalize(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            for i, (a, b) in enumerate(zip(sv, dv)):
                assert (math.isnan(a) and math.isnan(b)) or a == b, (
                    f"{name}.{col}[{i}]: {a!r} != {b!r}"
                )
        else:
            mism = (sv != dv)
            assert not mism.any(), (
                f"{name}.{col}: first mismatch at "
                f"{mism.idxmax()}: {sv[mism.idxmax()]!r} != {dv[mism.idxmax()]!r}"
            )


@pytest.mark.parametrize("name", sorted(E.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    oracles = E.oracle_sql()
    if name not in oracles:
        pytest.skip(f"{name}: no SQL oracle (rows-only check)")
    spark_df = E.queries()[name](spark, SF_ORACLE)
    spark_pdf = spark_df.toPandas()
    duck_pdf = duck.execute(oracles[name]).fetchdf()
    _compare(spark_pdf, duck_pdf, name)


# Keys added since the most recent driver round file was written —
# they can't appear in any round file yet, so the staleness budget
# below excuses them.  Update when adding contract queries; entries
# become harmless no-ops once their first round file lands (the
# rotation puts never-green keys first, so they get a row immediately).
NEW_SINCE_LAST_ROUND: set[str] = set()  # r8 entries spent (VERDICT r8 #3)

# Known-red rows in a COMMITTED round file, root-caused and fixed on the
# Spark side afterwards (the committed file itself is immutable — the
# driver hashes it).  Keyed by (round-file name, query): the excuse
# self-deactivates the moment a newer round file lands, so a STILL-red
# row next round fails both tripwires.  packed_ids r8: oracle typing —
# DuckDB HUGEINT seq_id → float64 in fetchdf vs Spark int64; sorted
# values identical (VERDICT r8 root cause).  Fixed r9 by exporting
# seq_id as double in q_packed_ids (the oracle SQL text is frozen).
KNOWN_RED: set[tuple[str, str]] = {("CORRECTNESS_r08.json", "packed_ids")}

# Documented rows-only contract entries: genuinely non-SQL-expressible
# ops (the brief's exemption).  bpe_tokens: BPE's iterated
# data-dependent merges cannot run in one DuckDB query; correctness is
# pinned by the naive-trainer differential in tests/test_bpe.py, and
# the trainer's SQL-expressible first stage is hash-oracled as
# bpe_histogram (r8).
ROWS_ONLY: set[str] = {"bpe_tokens"}


def test_no_unmirrored_hugeint_oracle_columns(spark, duck):
    """Oracle-typing tripwire (VERDICT r8 #2): DuckDB types window
    cumsums and big integer arithmetic HUGEINT, and ``fetchdf()``
    hands the DRIVER float64 for those columns while Spark hands
    int64 — the hashes differ even when every value matches (the r8
    ``packed_ids`` red row).  The oracle SQL text is frozen, so the
    invariant is dtype PARITY: for every HUGEINT/UHUGEINT column an
    oracle exports, the Spark query must export float64 (double) for
    the same column.  Cheap: DESCRIBE plans the query, no execution."""
    offenders = {}
    for name, sql in E.oracle_sql().items():
        cols = duck.execute(f"DESCRIBE {sql}").fetchall()
        huge = [c for c, t, *_ in cols if t in ("HUGEINT", "UHUGEINT")]
        if huge:
            offenders[name] = huge
    # today exactly one frozen oracle exports a HUGEINT column
    assert set(offenders) <= {"packed_ids"}, (
        f"new HUGEINT-typed oracle columns {offenders} — cast them "
        "to BIGINT in the oracle (pack_sequences pattern) while the "
        "SQL is still unfrozen, or export double on the Spark side"
    )
    for name, huge in offenders.items():
        schema = {
            f.name: f.dataType.simpleString()
            for f in E.queries()[name](spark, SF_ORACLE).schema.fields
        }
        for col in huge:
            assert schema.get(col) == "double", (
                f"{name}.{col} is HUGEINT in the oracle (float64 via "
                f"fetchdf) but {schema.get(col)} on the Spark side — "
                "the driver's hash will split on the dtype"
            )


def test_every_query_has_oracle():
    missing = set(E.queries()) - set(E.oracle_sql()) - ROWS_ONLY
    assert not missing, (
        f"queries() entries without an oracle_sql() twin: {sorted(missing)} "
        "(add the oracle, or document the rows-only exemption in "
        "ROWS_ONLY above)"
    )


# ---------------------------------------------------------------------
# Driver-coverage tripwire (VERDICT r6 #1, rewritten r8 as a staleness
# budget per VERDICT r7 #1).  The driver caps each round's CORRECTNESS
# artifact at ~50 rows taken in queries() insertion order; queries()
# rotates least-recently-green first, so every key must appear green
# within the last ceil(n/50) round files.  All-keys-in-latest-file can
# never pass again at >50 queries — the budget form still catches true
# driver omissions (a key with no green row across the whole window).
# ---------------------------------------------------------------------


def _round_files():
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    return sorted(repo.glob("CORRECTNESS_r*.json"))


def test_round_files_cover_every_query_within_budget():
    import json
    import math

    rounds = _round_files()
    if not rounds:
        pytest.skip("no driver round files yet")
    n = len(E.queries())
    budget = max(2, math.ceil(n / 50))
    window = rounds[-budget:]
    green: set[str] = set()
    for path in window:
        rows = json.loads(path.read_text())
        green |= {k for k, v in rows.items() if E._row_is_green(v)}
    missing = set(E.queries()) - green - NEW_SINCE_LAST_ROUND
    # a root-caused red row in the CURRENT latest file can't be green
    # anywhere in the window yet; the excuse dies with the next file
    missing -= {k for f, k in KNOWN_RED if f == rounds[-1].name}
    # Transitional debt from BEFORE the rotation existed (r7's static
    # order starved these past the driver's 50-row cap; VERDICT r7 #1).
    # The rotation puts them in r8's first 50, so this excuse
    # SELF-DEACTIVATES the moment CORRECTNESS_r08 lands — if the r8
    # driver run misses them again, this test fails.
    if rounds[-1].name <= "CORRECTNESS_r07.json":
        missing -= {"host_stats", "pii_scrub", "embed_texts", "ivf_topk"}
    assert not missing, (
        f"no green row within the last {budget} round files "
        f"({[p.name for p in window]}) for {sorted(missing)} — driver "
        "omission, a red row both rounds, or stale NEW_SINCE_LAST_ROUND"
    )


def test_latest_round_file_rows_are_green():
    """Every row the driver DID check last round must be green; the
    only tolerated err is the documented rows-only 'no_oracle' for
    keys in ROWS_ONLY."""
    import json

    rounds = _round_files()
    if not rounds:
        pytest.skip("no driver round files yet")
    rows = json.loads(rounds[-1].read_text())
    bad = {
        k: v
        for k, v in rows.items()
        if k in E.queries()
        and (rounds[-1].name, k) not in KNOWN_RED
        and not (
            E._row_is_green(v)
            and (v.get("err") != "no_oracle" or k in ROWS_ONLY)
        )
    }
    assert not bad, f"{rounds[-1].name} has non-green rows: {bad}"


def test_rotation_orders_least_recently_green_first(tmp_path):
    """Pure-function check of the rotation: never-green keys sort
    before stale-green keys, which sort before fresh-green keys; a red
    row does NOT refresh a key (it must resurface next round)."""
    import json

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "fresh": {"rows_match": True, "schema_match": True,
                          "hash_match": True, "err": None},
                "stale": {"rows_match": True, "schema_match": True,
                          "hash_match": True, "err": None},
                "rows_only": {"rows_match": None, "schema_match": None,
                              "hash_match": None, "err": "no_oracle"},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "fresh": {"rows_match": True, "schema_match": True,
                          "hash_match": True, "err": None},
                "red": {"rows_match": False, "schema_match": True,
                        "hash_match": False, "err": None},
            }
        )
    )
    last = E._last_green_rounds(tmp_path.glob("CORRECTNESS_r*.json"))
    assert last == {"fresh": 2, "stale": 1, "rows_only": 1}
    keys = ["fresh", "stale", "never", "red", "rows_only"]
    pos = {k: i for i, k in enumerate(keys)}
    ordered = sorted(keys, key=lambda k: (last.get(k, 0), pos[k]))
    assert ordered == ["never", "red", "stale", "rows_only", "fresh"]


def test_live_rotation_puts_never_checked_keys_first():
    """Against the real committed round files: any key that has never
    had a green driver row must sort before every key that has."""
    last = E._last_green_rounds(_round_files())
    order = list(E.queries())
    seen_checked = False
    for k in order:
        if k in last:
            seen_checked = True
        else:
            assert not seen_checked, (
                f"never-green key {k!r} sorts after a green key — "
                "rotation broken"
            )


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "score"]
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_rows_only_queries_are_deterministic(spark):
    """Rows-only entries have no oracle, so pin the next-best thing:
    two independent runs produce identical values (the driver's
    weaker check then at least hashes stably across rounds)."""
    for name in sorted(ROWS_ONLY):
        fn = E.queries()[name]
        a = _normalize(fn(spark, SF_ORACLE).toPandas())
        b = _normalize(fn(spark, SF_ORACLE).toPandas())
        assert a.equals(b), name
        assert len(a) > 0, name


def test_session_caches_drop_other_sessions(spark):
    """The corpus caches are keyed by session: a call from a new
    session unpersists and drops entries a previous (stopped) session
    left behind, so neither its DataFrame nor its id can be served."""
    from tests.conftest import SF_SMOKE

    stale = {}
    for i, cache in enumerate((E._DOCS_CACHE, E._EMB_CACHE)):
        df = spark.range(3).cache()
        df.count()
        key = (-1, f"stale{i}")  # id() is never negative: another session
        cache[key] = stale[key] = df
    E._docs(spark, SF_SMOKE)
    E._emb(spark, SF_SMOKE)
    for cache in (E._DOCS_CACHE, E._EMB_CACHE):
        assert not set(stale) & set(cache)
        assert (id(spark), SF_SMOKE) in cache
    assert not any(df.is_cached for df in stale.values())
