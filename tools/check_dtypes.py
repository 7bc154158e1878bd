"""Dtype-parity audit mirroring the driver's hash-sensitivity.

The driver canonicalizes both the Spark result and the DuckDB oracle result
through pandas and value-hashes them; pandas dtype differences (e.g. DuckDB
HUGEINT -> float64 vs Spark int64) flip the hash even when values match. This
tool converts BOTH sides to pandas exactly like the driver does and reports
any per-column dtype mismatch, plus columns whose values are list-like
(which crash the driver's canonicalizer).

Empirically (CORRECTNESS_r01-r03), only the int64-vs-float64 signature flips
the driver's value hash; int32-vs-int64, int8, and ns-vs-us timestamp repr
all occur on driver-green queries. ``dtype_issues`` reports that
hash-flipping class separately, and ``tests/test_nonempty.py`` gates on it
for every oracled query; the CLI still prints every mismatch for manual
audits.

Usage: python tools/check_dtypes.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import duck_con  # noqa: E402

# The one dtype pair that flips the driver's value hash (DuckDB HUGEINT ->
# pandas float64 vs Spark int64), in either direction.
_FATAL_PAIRS = {("int64", "float64"), ("float64", "int64")}


def dtype_issues(df, con, sql):
    """Return (all_issues, fatal_issues) for a built query frame, or raise."""
    spdf = df.limit(2000).toPandas()
    dkdf = con.execute(f"SELECT * FROM ({sql}) q LIMIT 2000").df()
    issues, fatal = [], []
    sp_cols = {c.lower(): c for c in spdf.columns}
    dk_cols = {c.lower(): c for c in dkdf.columns}
    if set(sp_cols) != set(dk_cols):
        msg = f"columns spark={sorted(sp_cols)} duck={sorted(dk_cols)}"
        issues.append(msg)
        fatal.append(msg)
    for lc in sorted(set(sp_cols) & set(dk_cols)):
        s = spdf[sp_cols[lc]]
        d = dkdf[dk_cols[lc]]
        if str(s.dtype) != str(d.dtype):
            issues.append(f"{lc}: spark={s.dtype} duck={d.dtype}")
            if (str(s.dtype), str(d.dtype)) in _FATAL_PAIRS:
                fatal.append(f"{lc}: spark={s.dtype} duck={d.dtype}")
        for side, col in (("spark", s), ("duck", d)):
            if col.dtype == object and len(col) and any(
                isinstance(v, (list, tuple, dict))
                or type(v).__name__ == "ndarray"
                for v in col.head(20)
            ):
                msg = f"{lc}: {side} cell is list-like (crashes driver)"
                issues.append(msg)
                fatal.append(msg)
    return issues, fatal


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]

    import __spark_entry__ as entrymod
    from bigdatainvesttink_spark.session import get_spark

    spark = get_spark("dtype-audit")
    con = duck_con(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_bad = n_ok = n_skip = n_fatal = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        if name not in oracles:
            n_skip += 1
            continue
        try:
            issues, fatal = dtype_issues(fn(spark, sf_dir), con, oracles[name])
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {type(exc).__name__}: {exc}")
            n_bad += 1
            continue
        if issues:
            n_bad += 1
            n_fatal += bool(fatal)
            tag = "FATAL" if fatal else "FAIL "
            print(f"{tag} {name}")
            for i in issues:
                print(f"     {i}")
        else:
            n_ok += 1
    print(
        f"\n{n_ok} ok, {n_bad} mismatched ({n_fatal} hash-fatal), "
        f"{n_skip} no-oracle"
    )


if __name__ == "__main__":
    main()
