"""URL column functions: the url-validity check of the `valid_url`
ingest gate and the deterministic salt of the two-phase skew-safe
dedup. All pure Column expressions — JVM-side, whole-stage-codegen'd,
zero Python. (The ParseImageName analog, splitting a url into its
parts, is q08's split/element_at in `queries.py`.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

URL_RE = r"^(https?)://([^/]+)(/.*)?$"


def is_valid_url(url: Column | str) -> Column:
    return F.col(url).rlike(URL_RE) if isinstance(url, str) else url.rlike(URL_RE)


def salt_column(col: Column, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt) for two-phase skew-safe aggs."""
    return F.pmod(F.xxhash64(col), F.lit(n_salt)).cast("int")
