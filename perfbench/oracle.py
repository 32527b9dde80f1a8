"""Output checks, run after the measured window.

Query results are compared with the engine's own DuckDB oracle
(`SparkEntry.oracleSql`) over the same generated inputs, under the project's
oracle parity rules: columns by name, values and row order, and no int/float
dtype drift. The incremental views are compared with their from-scratch
batch twins: the curation report with q301's oracle over the documents that
have arrived so far, the near-dup decisions with q304's recompute under the
(arrival, doc_id) order.
"""
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# q304's twin, with the batch of a document read from `arrivals`
ND_TWIN = """
WITH p0 AS (SELECT CAST(e_id AS BIGINT) AS e, CAST(d_id AS BIGINT) AS d FROM nd_pairs),
p AS (SELECT e, d, ae.arrival AS be FROM p0
      JOIN arrivals ae ON ae.doc_id = e JOIN arrivals ad ON ad.doc_id = d
      WHERE ae.arrival < ad.arrival OR (ae.arrival = ad.arrival AND e < d)),
m AS (SELECT d AS doc_id, min(be * 10000000000 + e) AS enc FROM p GROUP BY d)
SELECT dd.doc_id, dd.source,
  CAST(CASE WHEN m.enc IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
  m.enc % 10000000000 AS matched_id
FROM documents dd LEFT JOIN m USING (doc_id)
ORDER BY doc_id
"""


def compare(got, exp):
    """None when equal under the parity rules, else the first difference."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} vs oracle {len(exp)}"
    for c in exp.columns:
        ev, gv = exp[c], got[c]
        kinds = {ev.dtype.kind, gv.dtype.kind}
        if kinds & {"i", "u"} and "f" in kinds:
            return f"{c}: dtype drift {gv.dtype} vs oracle {ev.dtype}"
        if "f" in kinds:
            e, g = ev.astype(float).to_numpy(), gv.astype(float).to_numpy()
            neq = ~((e == g) | (np.isnan(e) & np.isnan(g)))
        else:
            neq = (~((ev == gv) | (ev.isna() & gv.isna()))).to_numpy()
        if neq.any():
            i = int(neq.nonzero()[0][0])
            return (f"{c}: row {i} got {got[c].iloc[i]!r} want {exp[c].iloc[i]!r} "
                    f"({int(neq.sum())} diffs)")
    return None


class Checker:
    def __init__(self, data_dir, results_dir, oracle_sql):
        self.data, self.results, self.sql = data_dir, results_dir, oracle_sql
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def _got(self, key):
        return pq.read_table(os.path.join(self.results, key)).to_pandas()

    def _exp(self, sql):
        return self.con.execute(sql).fetch_df()

    def query(self, name):
        if name not in self.sql:
            return "no oracle"
        return compare(self._got(name), self._exp(self.sql[name]))

    def join_microbench(self, n):
        got = self._got("join_microbench")
        want = (n, float(n * (n - 1) // 2))
        row = (int(got["rows"][0]), float(got["key_sum"][0]))
        return None if row == want else f"got {row}, want {want}"

    def arrival_views(self, k):
        """Twin checks of the views read after arrival k."""
        d = os.path.join(self.data, "documents.parquet")
        a = os.path.join(self.data, "arrivals.parquet")
        c = self.con
        c.execute(f"CREATE OR REPLACE VIEW arrivals AS SELECT * FROM read_parquet('{a}')")
        c.execute(f"""CREATE OR REPLACE VIEW documents AS SELECT d.* FROM read_parquet('{d}') d
                      JOIN arrivals USING (doc_id) WHERE arrival <= {k}""")
        c.register("nd_pairs", self._got(f"nd_pairs_{k:02d}"))
        out = {f"nd_decisions_{k:02d}": compare(self._got(f"nd_decisions_{k:02d}"),
                                               self._exp(ND_TWIN)),
               f"curation_report_{k:02d}": compare(
                   self._got(f"curation_report_{k:02d}"),
                   self._exp(self.sql["q301_incremental_curation"]))}
        c.unregister("nd_pairs")
        return out
