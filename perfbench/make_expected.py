"""Compute the stored answers of the corpus_prep workload.

For each corpus index ``i`` (``0 <= i < datagen.CORPORA``) this writes
the corpus, runs the DuckDB oracle of ``x_pipeline`` on it and prints
one JSON line ``{"corpus": i, "rows": n, "hash": h}``, where ``h`` is
``tools/check_contract.table_hash`` of the oracle's answer.  Collect
the lines into ``expected_corpus.json`` (a map from corpus index to
``{"rows", "hash"}``).  Run from the repository root:

    python3 perfbench/make_expected.py 0 1 2 3

Each corpus takes several minutes on one core.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import datagen  # noqa: E402
from mapreduce_spark.extensions.inventory import EXT_ORACLE_SQL  # noqa: E402
from tools.check_contract import table_hash  # noqa: E402


def main() -> None:
    for arg in sys.argv[1:]:
        i = int(arg)
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            datagen.write_documents(d, datagen.corpus_seed(i),
                                    datagen.CORPUS_DOCS)
            con = duckdb.connect()
            con.execute("SET threads = 1")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{d}/documents.parquet')")
            cur = con.execute(EXT_ORACLE_SQL["x_pipeline"])
            cols = [c[0] for c in cur.description]
            rows = cur.fetchall()
            con.close()
        print(json.dumps({"corpus": i, "rows": len(rows),
                          "hash": table_hash(cols, rows)}), flush=True)


if __name__ == "__main__":
    main()
