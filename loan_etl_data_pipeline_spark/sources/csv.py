"""CSV ingestion (reference operators S1 + S4).

The reference reads one CSV with header + full schema inference
(reference: airflow/dags/etl/pyspark_etl.py:51) and its discovery step
silently processes only the FIRST matching file in the landing directory
(reference: airflow/dags/spark_etl_dag.py:60). Here:

- ``read_csv`` keeps the schema-tolerant contract but takes an optional
  explicit ``StructType`` / ``samplingRatio`` so callers can skip the
  inference double-scan (at 100 TB, inference means reading the whole
  dataset twice — pass a schema).
- ``discover_input_files`` generalizes discovery to ALL matching files
  (fixing the first-file-only bug) while keeping the same filtering
  semantics: keep ``*.csv`` / ``*.csv.gz``, ignore dotfiles and JSON
  sidecars (reference: airflow/dags/spark_etl_dag.py:44-60).
  ``CSV_EXTENSIONS`` is the one definition of a data file, and
  ``resolve_input_files`` the one resolver every batch reader uses.

Gzip needs no special casing: Spark's CSV reader auto-detects the
``.gz`` codec, same as the reference relies on.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CSV_EXTENSIONS = (".csv", ".csv.gz")


def discover_input_files(directory: str) -> list[str]:
    """All non-hidden files in ``directory`` with a ``CSV_EXTENSIONS`` name, sorted.

    Sorted for determinism; returns [] when the directory is missing or
    empty (the reference early-returns "no_files",
    reference: airflow/dags/spark_etl_dag.py:53-55).
    """
    if not os.path.isdir(directory):
        return []
    return [
        os.path.join(directory, fn)
        for fn in sorted(os.listdir(directory))
        if not fn.startswith(".") and fn.lower().endswith(CSV_EXTENSIONS)
    ]


def resolve_input_files(paths: str | list[str]) -> list[str]:
    """The files a batch read of ``paths`` (a file, glob, directory, or a
    list of those) takes, in order: a local glob expands to its matches
    and a directory to :func:`discover_input_files`; a path that matches
    nothing locally (a remote URI, a missing file) passes through for
    Spark to resolve or reject."""
    out: list[str] = []
    for pattern in [paths] if isinstance(paths, str) else paths:
        for p in sorted(glob.glob(pattern)) or [pattern]:
            out.extend(discover_input_files(p) if os.path.isdir(p) else [p])
    return out


def write_csv(
    df: DataFrame,
    path: str,
    *,
    compression: str | None = "gzip",
    header: bool = True,
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    """Write CSV(.gz) — the write-side of the reference's gzip step.

    The reference gzips landed files driver-side with ``gzip.open`` +
    ``copyfileobj`` (reference: airflow/dags/drive_watch_dag.py:95-101);
    here the codec is applied by each writing task (``compression``
    option), so compression scales with executors and never funnels
    through one process. ``single_file=True`` coalesces to one part —
    only for small exports; a 100 TB result stays many parts.
    """
    if single_file:
        df = df.coalesce(1)
    writer = df.write.option("header", header).mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    *,
    schema: StructType | None = None,
    header: bool = True,
    sampling_ratio: float | None = None,
    corrupt_col: str | None = None,
    sep: str = ",",
    quote: str = '"',
) -> DataFrame:
    """Read CSV(.gz) file(s) into a DataFrame.

    With ``schema=None`` this matches the reference's
    ``header=True, inferSchema=True`` behavior
    (reference: airflow/dags/etl/pyspark_etl.py:51). Passing a schema is
    the scale path: a single scan, and predicate/column pruning can be
    planned before any data is read. ``sampling_ratio`` bounds the
    inference scan when you want inference but not a full extra pass.

    ``corrupt_col`` (requires ``schema``) quarantines malformed lines
    instead of silently null-padding them: parses run PERMISSIVE, rows
    that failed land with their raw text in that column (filter
    ``IS NOT NULL`` to route them to a dead-letter sink; everything
    else of the row is null). The reference would crash or silently
    mangle a bad landed file; at pipeline scale you want the batch to
    finish AND the bad lines accounted for.
    """
    # sep/quote default to the conventional dialect; pass the dict from
    # sniff_csv_dialect (sep=d["sep"], quote=d["quote"], header=
    # d["header"]) for locale exports the defaults would mangle
    reader = (
        spark.read.option("header", header)
        .option("sep", sep)
        .option("quote", quote)
    )
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        from pyspark.sql.types import StringType, StructField

        # copy the field list — StructType(schema.fields) aliases the
        # caller's list, and .add() would mutate their schema in place
        schema = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType())]
        )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
        if sampling_ratio is not None:
            reader = reader.option("samplingRatio", sampling_ratio)
    if isinstance(paths, str):
        paths = [paths]
    return reader.csv(paths)


def sniff_csv_dialect(
    path: str,
    *,
    max_bytes: int = 65536,
    max_lines: int = 50,
    candidates: tuple[str, ...] = (",", ";", "\t", "|"),
) -> dict:
    """Detect delimiter, quote char, and header presence from the HEAD
    of one landed file — the step the reference hardcodes away (it
    assumes comma + header, ``pyspark_etl.py:51``, and a semicolon
    export from a European locale silently parses as ONE column).

    Driver-side by design: a dialect sniff reads ≤64 KiB of ONE file —
    metadata-scale work, like listing a directory; the actual parse
    stays fully distributed (feed the result to :func:`read_csv` /
    ``spark.read.options``). Deterministic scoring, no stdlib Sniffer
    (its regex heuristics flip on ties): a candidate delimiter wins by
    (1) every sampled line splits into the SAME field count > 1 —
    consistency beats frequency, a prose column full of commas loses to
    the real delimiter; (2) more fields; (3) earlier in ``candidates``.
    Quote char: `"` or `'` if any sampled field is wrapped in it;
    header: the first row has no field that parses as a number while
    some later row does (the reference's numeric-column assumption,
    made explicit). All-string files (no numeric cell anywhere — where
    that signal is useless) fall back to a Sniffer-style distinctness
    check: the first row is a header iff its values are unique AND none
    recurs later in its own column (header names rarely reappear as
    data; ADVICE r4 flagged the old always-False answer, which silently
    ingested genuine headers as data). Inherent ambiguity remains for
    all-string headerless files whose every column is unique-valued —
    pass an explicit header flag for those.

    Returns ``{"sep", "quote", "header", "n_fields"}`` — pass ``sep``/
    ``quote``/``header`` straight into Spark's CSV options.
    """
    import gzip
    import io

    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as fh:
        blob = fh.read(max_bytes)
    text = blob.decode("utf-8", errors="replace")
    # drop a trailing partial line (the byte cap can cut mid-row)
    lines = text.splitlines()
    if len(lines) > 1 and not text.endswith(("\n", "\r")):
        lines = lines[:-1]
    lines = [ln for ln in lines[:max_lines] if ln.strip()]
    if not lines:
        return {"sep": ",", "quote": '"', "header": True, "n_fields": 0}

    def split_csv(line: str, sep: str, quote: str) -> list[str]:
        import csv as _csv

        return next(
            _csv.reader(io.StringIO(line), delimiter=sep, quotechar=quote)
        )

    # (sep, quote) are scored JOINTLY: a quoted field containing the
    # real delimiter breaks per-line consistency under the wrong quote
    # char (1;'a;b' is 2 fields under ', 3 under "), so neither can be
    # picked first. `"` is tried before `'` so unquoted files keep the
    # conventional default.
    def wraps_any(sep: str, q: str) -> bool:
        # does q actually QUOTE something? (raw-split fields enclosed in q)
        return any(
            len(f := fld.strip()) >= 2 and f[0] == q and f[-1] == q
            for ln in lines
            for fld in ln.split(sep)
        )

    best = (",", '"', 1, False, False)  # (sep, quote, n, consistent, wraps)
    for sep in candidates:
        for q in ('"', "'"):
            try:
                counts = {len(split_csv(ln, sep, q)) for ln in lines}
            except Exception:
                continue
            if len(counts) == 1:
                n = counts.pop()
                if n <= 1:
                    continue
                w = wraps_any(sep, q)
                # consistency first, then field count, then PREFER the
                # quote char that actually wraps fields (a single-quoted
                # file with no embedded delimiters is consistent under
                # both quotes — picking '"' would leave literal quotes
                # in every value); '"' stays the tie-break default
                if (
                    not best[3]
                    or n > best[2]
                    or (n == best[2] and sep == best[0] and w and not best[4])
                ):
                    best = (sep, q, n, True, w)
    sep, quote, n_fields = best[0], best[1], best[2]

    def is_num(s: str) -> bool:
        s = s.strip().strip(quote)
        if not s:
            return False
        try:
            float(s)
            return True
        except ValueError:
            return False

    first_numeric = any(is_num(f) for f in split_csv(lines[0], sep, quote))
    later_numeric = any(
        is_num(f)
        for ln in lines[1:]
        for f in split_csv(ln, sep, quote)
    )
    if first_numeric:
        header = False
    elif later_numeric or len(lines) == 1:
        header = True
    else:
        # all-string sample: the numeric signal is useless (ADVICE r4 —
        # the old unconditional False here fed genuine headers into the
        # data). Sniffer-style fallback: a header row's names are unique
        # and don't recur as data in their own column.
        rows = [split_csv(ln, sep, quote) for ln in lines]
        first = [f.strip() for f in rows[0]]
        header = len(set(first)) == len(first) and all(
            first[i] not in {r[i].strip() for r in rows[1:] if i < len(r)}
            for i in range(len(first))
        )
    return {"sep": sep, "quote": quote, "header": header, "n_fields": n_fields}
