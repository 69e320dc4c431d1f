"""The benchmark's inputs: tables of the program's sf0.1 test data, kept as
they are under `ifritbench/data/`, and seeded slices of its document corpus.

The corpus is a fixed sample of the sf0.1 documents, the same for every seed
(as the tables are), so that run-to-run differences come from the seed's
slicing and op order, not from a different corpus. Each slice is a different
seeded `share` of that sample; the same seed gives byte-identical slices.
"""
import os

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# the tables the dialect statements read (Catalog.Tables)
TABLES = ["lineitem", "nation", "embeddings"]


def tables():
    """Table name -> parquet file, for the tables read as they are."""
    return {t: os.path.join(DATA, f"{t}.parquet") for t in TABLES}


def write_slices(con, seed, n_docs, share, count, out):
    """`count` documents files, each a different seeded `share` of the fixed
    `n_docs`-document sample of the corpus."""
    con.execute(f"""CREATE OR REPLACE TABLE corpus AS
                    SELECT * FROM read_parquet('{DATA}/documents.parquet')
                    ORDER BY hash('sample', doc_id), doc_id LIMIT {n_docs}""")
    keep = round(share * 1000)
    paths = []
    for j in range(count):
        path = f"{out}/slice{j:03d}.parquet"
        # small row groups, so Spark can split a small file into parallel scans
        con.execute(f"""COPY (SELECT * FROM corpus
                              WHERE hash({seed}, 'slice', {j}, doc_id) % 1000 < {keep}
                              ORDER BY doc_id)
                        TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 8192)""")
        paths.append(path)
    return paths


def table_stats(con, paths):
    """Row and byte counts of parquet files, for the result stamp."""
    rows = sum(con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
               for p in paths)
    return {"files": len(paths), "rows": rows,
            "bytes": sum(os.path.getsize(p) for p in paths)}
