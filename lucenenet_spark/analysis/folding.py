"""ASCII folding — ISOLatin1AccentFilter / ASCIIFoldingFilter analogue
(src/Lucene.Net/Analysis/ASCIIFoldingFilter.cs:68,
ISOLatin1AccentFilter.cs).

An explicit char map (the Latin-1 Supplement + Latin Extended-A subset the
ISOLatin1 filter covers, single-char foldings) shared verbatim by four
implementations so they fold identically:

  1. pure-Python str.translate (query-side + invert kernels)
  2. Spark F.translate (JVM query-side expressions)
  3. DuckDB translate(...) (oracle SQL, when a folded entry is wired)
  4. pandas .str.translate (Arrow UDF path)

Multi-char foldings of the reference (AE->AE ligature, ss for eszett,
TH/th for thorn, OE/oe) are folded to their FIRST letter here — a
documented single-char-map simplification that keeps the translate
primitive usable on every engine.  Folding runs BEFORE lower(), so both
cases are mapped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FOLD_SRC = (
    "ÀÁÂÃÄÅàáâãäåÇçÈÉÊËèéêëÌÍÎÏìíîïÑñÒÓÔÕÖØòóôõöøÙÚÛÜùúûüÝŸýÿ"
    "ÆæĐđŒœÞþßŠšŽžČčĆćĀāĒēĪīŌōŪūĂăĄąĖėĘęĞğİıŁłŃńŞşŢţŰűŻżŹź"
)
FOLD_DST = (
    "AAAAAAaaaaaaCcEEEEeeeeIIIIiiiiNnOOOOOOooooooUUUUuuuuYYyy"
    "AaDdOoTtsSsZzCcCcAaEeIiOoUuAaAaEeEeGgIiLlNnSsTtUuZzZz"
)
assert len(FOLD_SRC) == len(FOLD_DST)

_PY_TABLE = str.maketrans(FOLD_SRC, FOLD_DST)


def fold_ascii_py(text: str) -> str:
    """Pure-Python fold (invert kernels + query analysis)."""
    return text.translate(_PY_TABLE) if text is not None else text


def fold_ascii_col(text: Column) -> Column:
    """JVM-expression fold (query-side, codegen-friendly)."""
    return F.translate(text, FOLD_SRC, FOLD_DST)


def fold_sql(expr: str) -> str:
    """DuckDB fold of a SQL expression (oracle parity)."""
    return f"translate({expr}, '{FOLD_SRC}', '{FOLD_DST}')"
