#!/usr/bin/env python3
"""Profiles the generated index_queries tables of one seed, and optionally a
directory of reference tables with the same schema, with DuckDB:

    python3 perfbench/tables.py --seed 1 [--reference DIR]

DIR holds documents.parquet, embeddings.parquet and events.parquet (files or
directories of parquet files). Prints one JSON object with one profile per
source: row counts, token-length, duplicate-rate and key distributions. The
figures in workloads.json come from this script.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def source(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def profile(d):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{source(os.path.join(d, t + '.parquet'))}')")

    def one(sql):
        return con.execute(sql).fetchone()

    def r(x, n=4):
        return round(float(x), n)

    n_docs = one("SELECT count(*) FROM documents")[0]
    tok = one("""SELECT min(n), quantile_cont(n, 0.1), median(n), quantile_cont(n, 0.9), max(n), avg(n)
                 FROM (SELECT len(string_split(text, ' ')) n FROM documents)""")
    vocab = one("""SELECT count(DISTINCT w), max(strlen(w))
                   FROM (SELECT unnest(string_split(text, ' ')) w FROM documents) WHERE w <> 'dup'""")
    near = one("SELECT count(*) FROM documents WHERE text LIKE '% dup'")[0]
    exact = one("SELECT count(*) - count(DISTINCT text) FROM documents")[0]
    langs = con.execute("SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1").fetchall()
    n_emb, dim, nmin, nmax, cstd = one("""
        SELECT count(*), max(len(embedding)),
               min(sqrt(list_sum(list_transform(embedding, x -> x * x)))),
               max(sqrt(list_sum(list_transform(embedding, x -> x * x)))),
               (SELECT stddev_pop(x) FROM (SELECT unnest(embedding) x FROM embeddings))
        FROM embeddings""")
    labels = [c for _, c in con.execute("SELECT label, count(*) FROM embeddings GROUP BY 1").fetchall()]
    ev = one("""SELECT count(*), count(DISTINCT user_id),
                       date_diff('second', min(ts), max(ts)) / 86400.0,
                       median(value), avg(value), max(value) FROM events""")
    types = con.execute("SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1").fetchall()
    con.close()
    return {
        "documents": {
            "rows": n_docs,
            "tokens_per_doc": {"min": tok[0], "p10": r(tok[1], 1), "median": r(tok[2], 1),
                               "p90": r(tok[3], 1), "max": tok[4], "mean": r(tok[5], 2)},
            "vocabulary": vocab[0], "max_token_bytes": vocab[1],
            "near_dup_share": r(near / n_docs), "exact_dup_share": r(exact / n_docs),
            "lang_share": {k: r(c / n_docs, 3) for k, c in langs},
        },
        "embeddings": {
            "rows": n_emb, "dim": dim, "norm_min": r(nmin, 5), "norm_max": r(nmax, 5),
            "component_std": r(cstd), "label_share_min": r(min(labels) / n_emb, 3),
            "label_share_max": r(max(labels) / n_emb, 3),
        },
        "events": {
            "rows": ev[0], "users": ev[1], "users_per_event": r(ev[1] / ev[0]),
            "span_days": r(ev[2], 2), "value_median": r(ev[3], 2), "value_mean": r(ev[4], 2),
            "value_max": r(ev[5], 2),
            "type_share": {k: r(c / ev[0], 3) for k, c in types},
        },
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--reference", help="directory of reference tables to profile alongside")
    args = ap.parse_args()
    jars = run.spark_jars()
    classes = run.build(jars)
    work = os.path.join(run.BUILD, "work", f"tables-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = subprocess.run(["java", "-Xmx2g", f"-Djava.io.tmpdir={work}"] +
                           [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
                           ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
                            "perfbench.Tables", str(args.seed), work],
                           stdout=sys.stderr, stderr=sys.stderr, cwd=work)
        if r.returncode != 0:
            run.fail("table generation failed")
        out = {"generated": profile(os.path.join(work, "data"))}
        if args.reference:
            out["reference"] = profile(args.reference)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
