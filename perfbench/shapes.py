#!/usr/bin/env python3
"""Print the input shapes the benchmark's generators copy (Gen.scala).

Usage: python3 perfbench/shapes.py <dir holding events.parquet,
documents.parquet and embeddings.parquet>

Run it on the sf0.1 testdata tables to check the figures recorded in
README.md. Needs python3 with duckdb.
"""
import math
import os
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(sys.argv[1], t + ".parquet")))

    def q(sql):
        return con.execute(sql).fetchall()

    n, users = q("SELECT count(*), count(DISTINCT user_id) FROM events")[0]
    print("events: %d rows, %d users" % (n, users))
    for et, share in q("SELECT event_type, count(*) / sum(count(*)) OVER () "
                       "FROM events GROUP BY 1 ORDER BY 1"):
        print("  event_type %-8s %.3f" % (et, share))
    print("  value mean %.2f, p10 %.2f, p50 %.2f, p90 %.2f, max %.2f; "
          "share with a second decimal %.3f" % q(
              "SELECT avg(value), quantile_cont(value, 0.1), quantile_cont(value, 0.5), "
              "quantile_cont(value, 0.9), max(value), "
              "avg(CASE WHEN value * 10 <> round(value * 10) THEN 1 ELSE 0 END) FROM events")[0])
    print("  gap between reports in event_id order: mean %.1f s, median %.1f s" % q(
        "SELECT avg(g), median(g) FROM (SELECT epoch(ts - lag(ts) OVER (ORDER BY event_id)) g "
        "FROM events)")[0])

    n, distinct, dups = q("SELECT count(*), count(DISTINCT text), "
                          "count(*) FILTER (WHERE text LIKE '% dup') FROM documents")[0]
    print("documents: %d rows, %d distinct texts, %.3f end in ' dup'" % (n, distinct, dups / n))
    print("  words min %d, max %d, mean %.1f" % q(
        "SELECT min(w), max(w), avg(w) FROM "
        "(SELECT len(string_split(text, ' ')) w FROM documents)")[0])
    print("  vocabulary: %d words besides 'dup'" % q(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w "
        "FROM documents) WHERE w <> 'dup'")[0])
    print("  lang " + ", ".join("%s %.3f" % r for r in q(
        "SELECT lang, count(*) / sum(count(*)) OVER () FROM documents GROUP BY 1 ORDER BY 1")))
    print("  %d sources, %d to %d documents each" % q(
        "SELECT count(*), min(c), max(c) FROM (SELECT count(*) c FROM documents GROUP BY source)")[0])

    n, dim, labels = q("SELECT count(*), max(len(embedding)), count(DISTINCT label) "
                       "FROM embeddings")[0]
    print("embeddings: %d rows, %d-d, %d labels" % (n, dim, labels))
    print("  norm min %.6f, max %.6f" % q(
        "SELECT min(n), max(n) FROM (SELECT sqrt(list_sum(list_transform(embedding, x -> x * x))) n "
        "FROM embeddings)")[0])
    # the norm of a label's mean vector; for unit vectors drawn with no
    # relation to the label it is about 1 / sqrt(vectors in the label)
    rows = q("SELECT label, max(k), sqrt(sum(m * m)) FROM ("
             " SELECT label, i, count(*) k, avg(x) m FROM ("
             "  SELECT label, generate_subscripts(embedding, 1) i, unnest(embedding) x"
             "  FROM embeddings) GROUP BY label, i) GROUP BY label ORDER BY label")
    for label, k, norm in rows:
        print("  label %d: %d vectors, |mean| %.4f (chance %.4f)" % (label, k, norm, 1 / math.sqrt(k)))


if __name__ == "__main__":
    main()
