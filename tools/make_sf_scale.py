"""Generate a larger synthetic scale factor from sf0.1 for the
decade probes (tools/probe.py).

/root/testdata is read-only and tops out at sf0.1, but the O(churn)
claims (bucketed merge, band join, incremental consolidation) need at
least one decade of measured scaling to rule out an accidental
quadratic. This derives a 10x dataset into a writable dir:

- ``events``: 10 shifted copies — event_id/user_id offsets GROW THE
  KEY SPACE (the ingest merge keys on user_id-derived hashes, so
  per-key churn stays constant and output grows linearly, the shape a
  real 10x feed has; naive duplication would instead multiply per-key
  updates and measure the wrong thing), ts offset keeps LWW ordering
  deterministic per copy.
- ``documents``: 10 copies with a (copy, doc, position)-unique marker
  token interleaved every two tokens. This rewrites nearly every
  3-gram shingle, so documents from different copies share no MinHash
  bands and the near-duplicate PAIR count grows ~linearly with the
  corpus — clones across copies would instead densify every LSH
  bucket and produce a quadratic pair blowup in the DATA, masking
  what the probe measures (quadratic behavior in the OPERATOR). The
  marker must vary per doc AND position: an earlier constant-per-copy
  marker made up half of every doc's token multiset, which collapsed
  SimHash fingerprints within a copy into shared buckets and measured
  alpha=1.4 on q_simhash_pairs — a property of that degenerate corpus
  (boilerplate-dominated documents), not of the banded join.
- other tables: copied as-is (the probe queries don't scan them).

Usage: python tools/make_sf_scale.py [dst=/tmp/sf1] [copies=10] [tables]
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    dst = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    # a 1000-copy (sf100) union exceeds the default parser depth (1000)
    con.execute("SET max_expression_depth TO 25000")

    for t in (only or TABLES):
        src = f"{SRC}/{t}.parquet"
        out = f"{dst}/{t}.parquet"
        if t == "events":
            sql = " UNION ALL ".join(
                f"SELECT event_id + {i}::BIGINT * 100000000 AS event_id, "
                f"ts + INTERVAL ({i}) SECOND AS ts, "
                f"user_id + {i}::BIGINT * 10000000 AS user_id, "
                f"event_type, value, props "
                f"FROM read_parquet('{src}')"
                for i in range(copies))
        elif t == "documents":
            marker = ("' c{i}x' || CAST((doc_id * 7 + j) % 997 AS VARCHAR)")
            sql = " UNION ALL ".join(
                (f"SELECT doc_id, text, lang, source, n_chars "
                 f"FROM read_parquet('{src}')") if i == 0 else
                (f"SELECT doc_id + {i}::BIGINT * 1000000 AS doc_id, "
                 f"array_to_string(list_transform(string_split(text, ' '), "
                 f"(tk, j) -> tk || CASE WHEN j % 2 = 0 THEN "
                 f"{marker.format(i=i)} ELSE '' END), ' ') AS text, "
                 f"lang, source, n_chars FROM read_parquet('{src}')")
                for i in range(copies))
        elif t == "embeddings":
            # copies i>0 get a deterministic per-(copy, vector, dim)
            # perturbation (amplitude ~ the 0.1 mean |component|).
            # EXACT copies are degenerate at scale: every LSH bucket
            # holds `copies` identical vectors, so at 100x the bucket
            # join does >=copies^2 work per signature and the probe
            # measures the duplicate pile-up, not the operator (the
            # same trap the constant document marker hit in round 6 —
            # observed: 16-plane LSH at 200k exact-copy vectors ran
            # 10x+ past its scaled estimate). Perturbed copies spread
            # across buckets like a real 100x corpus does.
            sql = " UNION ALL ".join(
                (f"SELECT vec_id, embedding, label "
                 f"FROM read_parquet('{src}')") if i == 0 else
                (f"SELECT vec_id + {i}::BIGINT * 1000000 AS vec_id, "
                 f"list_transform(embedding, (x, j) -> CAST(x + 0.1 * "
                 f"sin({i} * 9973 + vec_id * 131 + j) AS FLOAT)) "
                 f"AS embedding, label FROM read_parquet('{src}')")
                for i in range(copies))
        elif t == "part":
            # names repeat across copies on purpose: the fuzzy-join
            # probes measure how the BLOCK key's fixed cardinality
            # behaves as rows grow — that is the degenerate-block
            # regime the cap exists for
            sql = " UNION ALL ".join(
                f"SELECT p_partkey + {i}::BIGINT * 1000000 AS p_partkey, "
                f"* EXCLUDE (p_partkey) "
                f"FROM read_parquet('{src}')"
                for i in range(copies))
        elif t == "customer":
            # key-offset copies keep the orders->customer join 1:N
            # with the SAME fan-out per decade (each copy is a closed
            # key space), so star-join selectivity — and the
            # region/year revenue SHARES — are scale-invariant while
            # volume grows linearly. That is the shape a real 10x
            # order book has; duplicating keys instead would multiply
            # join fan-out and measure a quadratic that isn't there.
            sql = " UNION ALL ".join(
                f"SELECT c_custkey + {i}::BIGINT * 10000000 AS c_custkey, "
                f"c_name, c_nationkey, c_acctbal, c_mktsegment "
                f"FROM read_parquet('{src}')"
                for i in range(copies))
        elif t == "orders":
            sql = " UNION ALL ".join(
                f"SELECT o_orderkey + {i}::BIGINT * 100000000 AS o_orderkey, "
                f"o_custkey + {i}::BIGINT * 10000000 AS o_custkey, "
                f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                f"FROM read_parquet('{src}')"
                for i in range(copies))
        elif t == "lineitem":
            sql = " UNION ALL ".join(
                f"SELECT l_orderkey + {i}::BIGINT * 100000000 AS l_orderkey, "
                f"* EXCLUDE (l_orderkey) "
                f"FROM read_parquet('{src}')"
                for i in range(copies))
        else:
            shutil.copyfile(src, out)
            print(f"{t}: copied")
            continue
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, "
                    f"ROW_GROUP_SIZE 122880)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out}')") \
            .fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
