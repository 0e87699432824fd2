"""Independent final-state oracle for the CDC benchmark.

Recomputes the live pages view straight from the raw ledger parquet files
with DuckDB — last writer wins per url by ``(warc_ts, seq)``, a delete winner
means the url is absent — and extracts text with the engine's defining regex
pipeline (``_extract_text_bytes_reference``), not the fast path the engine
runs. Pre-evolution files carry ``lang``; the field-id mapping renames it to
``language`` and leaves ``fetch_status`` NULL.

The engine side is read only through ``CdcEngine.read_pages``. Both sides are
reduced to canonical rows ``(url, warc_ts_us, language, fetch_status, text)``
and compared twice: by a content hash over all rows, and url by url on text.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
from pyspark.sql import functions as F

from data_warehouse_etl_spark.cdc.extract import _extract_text_bytes_reference

_LWW_SQL = """
SELECT url, epoch_us(warc_ts) AS ts, html, {language} AS language, {fetch_status}
FROM (
  SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
  FROM read_parquet(?, union_by_name = true)
  WHERE seq <= ?
)
WHERE rn = 1 AND op <> 'D'
"""


def _canon(url, ts, language, fetch_status, text) -> tuple:
    fs = None if fetch_status is None else int(fetch_status)
    return (url, int(ts), language, fs, text)


def _digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in sorted(rows, key=repr):
        h.update(repr(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def expected_rows(ledger, max_seq: int) -> list[tuple]:
    """Live rows after applying every ledger event with ``seq <= max_seq``."""
    files = [os.path.join(ledger.path, f["path"]) for f in ledger.manifest.files]
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        cols = {r[0] for r in con.execute(
            "DESCRIBE SELECT * FROM read_parquet(?, union_by_name = true)", [files]
        ).fetchall()}
        # a ledger that never evolved has no `language` / `fetch_status` yet
        langs = [c for c in ("language", "lang") if c in cols]
        sql = _LWW_SQL.format(
            language=f"coalesce({', '.join(langs)})",
            fetch_status="fetch_status" if "fetch_status" in cols else "NULL AS fetch_status",
        )
        rows = con.execute(sql, [files, max_seq]).fetchall()
    finally:
        con.close()
    return [
        _canon(url, ts, lang, fs, _extract_text_bytes_reference(html))
        for url, ts, html, lang, fs in rows
    ]


def engine_rows(eng) -> list[tuple]:
    df = eng.read_pages()
    lang = "language" if "language" in df.columns else "lang"
    fs = F.col("fetch_status") if "fetch_status" in df.columns else F.lit(None).cast("int")
    pdf = df.select(
        "url",
        F.unix_micros("warc_ts").alias("ts"),
        F.col(lang).alias("language"),
        fs.alias("fetch_status"),
        "text",
    ).toPandas()
    out = []
    for url, ts, language, fetch_status, text in pdf.itertuples(index=False):
        fetch_status = None if fetch_status != fetch_status else fetch_status  # NaN
        out.append(_canon(url, ts, language, fetch_status, text))
    return out


def check(eng, ledger, max_seq: int) -> dict:
    """Compare the engine's live view with the oracle. ``ok`` is False on any
    difference in the content hash (which also catches a url listed twice) or
    in any url's text."""
    want_rows = expected_rows(ledger, max_seq)
    got_rows = engine_rows(eng)
    want = {r[0]: r[4] for r in want_rows}
    got = {r[0]: r[4] for r in got_rows}
    text_mismatch = sum(
        1 for url in want.keys() | got.keys()
        if url not in want or url not in got or want[url] != got[url]
    )
    want_h, got_h = _digest(want_rows), _digest(got_rows)
    return {
        "ok": want_h == got_h and text_mismatch == 0,
        "rows_expected": len(want_rows),
        "rows_engine": len(got_rows),
        "text_mismatches": text_mismatch,
        "hash_expected": want_h[:16],
        "hash_engine": got_h[:16],
    }
