"""Result checks against DuckDB over the same parquet files.

JOB counts are compared with the program's own DuckDB twin
(`JobCorpus.duckOracleSqlFor`). Analytics entries are compared with their
`Entry.oracle` text by the repository's own gate, `tools/check_oracle.py`;
this module reads its report.
"""
import glob
import os

import duckdb
import pyarrow.parquet as pq


def job_expected(oracle_sql):
    """{query name: count} from the DuckDB twin."""
    return {q: n for q, n in duckdb.connect().execute(oracle_sql).fetchall()}


def oracle_failures(report):
    """{entry: reason} from the FAIL section of check_oracle.py's output."""
    out, in_fail = {}, False
    for line in report.splitlines():
        if line.startswith("FAIL "):
            in_fail = True
        elif in_fail and line.startswith("  ") and ": " in line:
            name, why = line.strip().split(": ", 1)
            out[name.removesuffix(" [rows-only]")] = why
    return out


def row_count(result_dir):
    """Rows of one entry's written result."""
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(result_dir, "*.parquet")))
