"""Reference scalar functions (SURVEY.md §2.7, F1–F11) as named Spark
column expressions. Each docstring cites the reference implementation it
re-expresses; semantics quirks are FIXED per SURVEY.md §7.4 (e.g. the
reference raises NameError on an unmatched filename regex at
src/utils.py:72-75 — we return NULL).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# F1/F2: filename-embedded timestamp MMDDYYYY_HH-MM-SS →
# TimestampType (reference src/utils.py:66-81: regex \d{8}_\d{2}-\d{2}-\d{2},
# '-'→':' surgery, strptime %m%d%Y_%H:%M:%S, strftime %Y-%m-%d %H:%M:%S).
FILENAME_TS_PATTERN = r"(\d{8}_\d{2}-\d{2}-\d{2})"


def filename_timestamp(col: Column | str) -> Column:
    """Extract + parse the filename timestamp; NULL when absent
    (reference would NameError — documented fix)."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.regexp_extract(c, FILENAME_TS_PATTERN, 1)
    fixed = F.regexp_replace(raw, "-", ":")
    return F.when(raw == "", F.lit(None).cast("timestamp")).otherwise(
        F.to_timestamp(fixed, "MMddyyyy_HH:mm:ss")
    )


# F3: first all-caps token of the path is the hotel/location code
# (reference src/process_files.py:37-41: re.findall(r"\b([A-Z]+)\b")[0]).
def location_code(col: Column | str) -> Column:
    """First run of capital letters. (The reference's \\b([A-Z]+)\\b can
    never match its own filename convention CODE_MMDDYYYY_... — '_' is a
    word char, so no boundary follows the code; it only worked because
    full paths like './data/raw/X' provided boundaries elsewhere. We
    implement the documented intent: the leading all-caps token.)"""
    c = F.col(col) if isinstance(col, str) else col
    code = F.regexp_extract(c, r"([A-Z]+)", 1)
    return F.when(code == "", F.lit(None).cast("string")).otherwise(code)


# F4: sibling-file suffixing (reference src/utils.py:57-63, duplicated at
# src/process_files.py:127-133 — one definition here).
def modified_filename(col: Column | str, suffix: str = "_modified") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.rlike(r"\.[^./]+$"),
        F.regexp_replace(c, r"\.([^./]+)$", suffix + r".$1"),
    ).otherwise(F.concat(c, F.lit(suffix)))


# F7: creation timestamp rendered like the reference
# (src/process_files.py:88 datetime.now().strftime('%Y-%m-%d %H:%M:%S')).
def creation_ts() -> Column:
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")


# F8: coalesce-to-zero int cast (src/process_files.py:122
# fillna(0).astype('int32')).
def data_amount(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(0)).cast("int")


# F11: path basename (src/process_files.py:38 os.path.basename).
def path_basename(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, "/"), -1)


# P10: column-name normalization (reference src/process_files.py:54
# uppercase + :73-79 identifier cleanup). The reference's
# str.replace("[^\w\s]", "") is a no-op in pandas≥2 (regex=False default);
# we implement the documented INTENT (SURVEY.md §1.3): uppercase, any
# non-word run → single underscore, trimmed.
def clean_column_name(name: str) -> str:
    cleaned = re.sub(r"[^\w]+", "_", name.strip().upper())
    return cleaned.strip("_")


def normalize_columns(df):
    """driver-side rename via toDF — zero execution cost."""
    return df.toDF(*[clean_column_name(c) for c in df.columns])
