"""Result digests with the canonicalization of tools/local_verify.py:
columns sorted by name, floats at 9 significant digits, every other value
as str(), rows joined with 0x1f and sorted."""
import hashlib


def canon_rows(df):
    cols = sorted(df.columns)
    rows = []
    for rec in df[cols].itertuples(index=False):
        row = []
        for v in rec:
            if isinstance(v, float):
                row.append(f"{v:.9g}")
            else:
                row.append(str(v))
        rows.append("\x1f".join(row))
    rows.sort()
    return cols, rows


def digest(df):
    """{"rows", "sha256"} of a pandas frame's canonical rows."""
    cols, rows = canon_rows(df)
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def parquet_digest(con, path_glob):
    """Digest of the parquet files matching `path_glob`, read through
    DuckDB as local_verify.py reads the engine's output."""
    return digest(con.sql(f"SELECT * FROM read_parquet('{path_glob}')").df())
