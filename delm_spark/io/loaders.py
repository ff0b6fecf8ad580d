"""Source loaders (SURVEY §2.1 S1-S10).

The reference dispatches file extensions to pandas loaders and unions
directory contents row by row (/root/reference/src/delm/strategies/
data_loaders.py:239-383). Here every format maps to a Spark reader —
directory loading, recursive glob, and union are native reader features
(`pathGlobFilter`, `recursiveFileLookup`), so S9/S14's manual unions
disappear.

docx/xlsx decode with the standard library only (both are ZIP+XML; see
io/office.py) through the binaryFile source + Arrow UDFs — python-docx /
openpyxl are not needed. PDF (reference: marker OCR, a heavy model dep)
stays a gated stub: plumbing real, decode raises NotImplementedError.
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delm_spark.constants import FILE_NAME_COL, RAW_DATA_COL


def load_text(spark: SparkSession, path: str) -> DataFrame:
    """S1: whole-file text (.txt/.md), recursively under `path` ->
    (delm_file_name, delm_raw_data)."""
    return (
        spark.read.option("wholetext", "true")
        .option("recursiveFileLookup", "true")
        .text(path)
        .select(
            F.input_file_name().alias(FILE_NAME_COL),
            F.col("value").alias(RAW_DATA_COL),
        )
    )


def html_text_udf():
    """Parser-based HTML→text decoder (pandas UDF over stdlib
    `html.parser`): tokenizes markup instead of regex-matching it, so
    tag-soup documents (unclosed tags, `<` inside attribute values,
    missing quotes) decode the way the reference's BeautifulSoup path does
    (data_loaders.py:60-82). This is the pluggable `decode_udf` seam of
    `load_html`; the native regexp chain remains the default (JVM-side,
    zero Python) for well-formed documents."""
    from pyspark.sql.types import StringType

    def _one(doc):
        if doc is None:
            return None
        import re
        from html.parser import HTMLParser

        class _Text(HTMLParser):
            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.parts: list[str] = []
                self.skip = 0

            def handle_starttag(self, tag, attrs):
                if tag in ("script", "style"):
                    self.skip += 1

            def handle_endtag(self, tag):
                if tag in ("script", "style") and self.skip:
                    self.skip -= 1

            def handle_data(self, data):
                if not self.skip:
                    self.parts.append(data)

        p = _Text()
        p.feed(doc)
        p.close()
        return re.sub(r"\s+", " ", " ".join(p.parts)).strip()

    # no pd.Series annotations: typehint resolution breaks when pandas is
    # imported in the enclosing scope; returnType is explicit instead
    def _decode(texts):
        return texts.map(_one)

    return F.pandas_udf(_decode, returnType=StringType())


def load_html(spark: SparkSession, path: str, decode_udf=None) -> DataFrame:
    """S2: HTML -> visible text. Tag stripping is a native regexp chain
    (script/style blocks removed, tags dropped, entities unescaped for the
    common five) — the reference uses BeautifulSoup (data_loaders.py:60-82).
    For tag-soup documents pass `decode_udf` (Series[str] -> Series[str]);
    `html_text_udf()` is the built-in stdlib-parser implementation, and a
    bs4-backed UDF drops into the same seam."""
    raw = load_text(spark, path)
    if decode_udf is not None:
        return raw.select(
            FILE_NAME_COL, decode_udf(F.col(RAW_DATA_COL)).alias(RAW_DATA_COL)
        )
    txt = F.col(RAW_DATA_COL)
    txt = F.regexp_replace(txt, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    txt = F.regexp_replace(txt, r"(?s)<[^>]+>", " ")
    for ent, ch in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")]:
        txt = F.replace(txt, F.lit(ent), F.lit(ch))
    txt = F.regexp_replace(txt, r"\s+", " ")
    return raw.select(FILE_NAME_COL, F.trim(txt).alias(RAW_DATA_COL))


def load_csv(
    spark: SparkSession, path: str, target_column: Optional[str] = None
) -> DataFrame:
    """S5: CSV with header; validates target_column like the reference
    (data_loaders.py:155-166)."""
    df = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    if target_column is not None and target_column not in df.columns:
        raise ValueError(
            f"target_column {target_column!r} not in CSV columns {df.columns}"
        )
    return df


def load_parquet(spark: SparkSession, path) -> DataFrame:
    """S6: parquet (also the feather replacement S7 — Spark has no feather
    source; persisted artifacts use parquet throughout). Accepts a single
    path or a list of files (the directory loader passes a list;
    `DataFrameReader.parquet` is varargs, so a list must be unpacked —
    py4j cannot dispatch a Python list)."""
    if isinstance(path, (list, tuple)):
        return spark.read.parquet(*path)
    return spark.read.parquet(path)


def load_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def load_binary_with_udf(spark: SparkSession, path: str, decode_udf=None) -> DataFrame:
    """S3/S4/S8 scaffold: binaryFile source + a decode pandas UDF
    (docx/pdf/xlsx). Without a decoder this raises on use, matching the
    'stub behind NotImplementedError' contract."""
    df = (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("path").alias(FILE_NAME_COL), F.col("content"))
    )
    if decode_udf is None:
        raise NotImplementedError(
            "docx/pdf/xlsx decoding requires python-docx/marker/openpyxl; "
            "provide decode_udf (Series[bytes] -> Series[str])"
        )
    return df.select(FILE_NAME_COL, decode_udf(F.col("content")).alias(RAW_DATA_COL))


def _load_docx(spark: SparkSession, path: str) -> DataFrame:
    from delm_spark.io.office import load_docx

    return load_docx(spark, path)


def _load_xlsx(spark: SparkSession, path: str, target_column=None) -> DataFrame:
    from delm_spark.io.office import load_xlsx

    return load_xlsx(spark, path, target_column)


def _load_pdf(spark: SparkSession, path: str) -> DataFrame:
    from delm_spark.io.pdf import load_pdf

    return load_pdf(spark, path)


_EXT_DISPATCH = {
    ".txt": load_text,
    ".md": load_text,
    ".html": load_html,
    ".csv": load_csv,
    ".parquet": load_parquet,
    ".json": load_json,
    ".jsonl": load_json,
    ".docx": _load_docx,
    ".xlsx": _load_xlsx,
    ".pdf": _load_pdf,
}

#: formats that require a target column (reference data_loaders.py:304-329)
REQUIRES_TARGET_COLUMN = {".csv", ".parquet", ".json", ".jsonl", ".xlsx"}


def load_path(
    spark: SparkSession, path: str, target_column: Optional[str] = None
) -> DataFrame:
    """S10: extension dispatch. Directories are handled by the reader's own
    glob — pass `dir/*.txt` style paths (S9); mixed-extension validation
    stays a driver-side concern."""
    ext = Path(path).suffix.lower().lstrip("*") if isinstance(path, str) else (
        Path(path[0]).suffix.lower()
    )
    loader = _EXT_DISPATCH.get(ext)
    if loader is None:
        raise ValueError(f"Unsupported extension {ext!r} for {path}")
    if ext == ".csv":
        return load_csv(spark, path, target_column)
    if ext == ".xlsx":
        return _load_xlsx(spark, path, target_column)
    return loader(spark, path)


#: files the directory loader silently skips (reference IGNORE_FILES,
#: constants.py / data_loaders.py:349-352)
IGNORE_FILES = {".DS_Store", "Thumbs.db", "desktop.ini"}


def load_directory(
    spark: SparkSession,
    directory: str,
    target_column: Optional[str] = None,
):
    """S9: load every file of a directory tree as ONE DataFrame, enforcing a
    single extension across the tree (reference data_loaders.py:331-383:
    glob, skip IGNORE_FILES, single-extension validation, union). The
    union is native — the matched file list goes to one reader call.

    Returns (df, ext) like the reference.
    """
    root = Path(directory)
    if not root.is_dir():
        raise ValueError(f"{directory} is not a directory")
    # skip both '_'-prefixed (Spark _SUCCESS markers) and '.'-prefixed
    # sidecars (.part-*.crc, ._SUCCESS.crc) — a Spark-written parquet
    # dataset must load as a corpus directory
    files = sorted(
        str(p) for p in root.rglob("*")
        if p.is_file()
        and p.name not in IGNORE_FILES
        and not p.name.startswith("_")
        and not p.name.startswith(".")
    )
    if not files:
        raise ValueError(f"no loadable files under {directory}")
    exts = {Path(f).suffix.lower() for f in files}
    if len(exts) > 1:
        raise ValueError(
            f"directory {directory} mixes extensions {sorted(exts)}; "
            "a corpus directory must be a single format"
        )
    ext = exts.pop()
    return load_path(spark, files, target_column), ext
