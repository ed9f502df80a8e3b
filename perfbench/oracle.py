"""Expected answers, computed with DuckDB outside the timed window.

The record log is rebuilt in SQL by the program's own oracle generator
(`graft.oracle.Duck.recsMultiWith`), and each `/search` request becomes a
SQL query over it. A response is compared by record count and by the
order-insensitive digest of its (type, topic, partition, offset) tuples.
`/pipeline` responses are compared by row count against the row count of
the query's registered oracle SQL (`graft.SparkEntry.oracleSql`).
"""
import hashlib
import os

import duckdb

from stats import digest


def _lit(s):
    return "'" + s.replace("'", "''") + "'"


class Oracle:
    def __init__(self, fixture_dir, fingerprint, sql, cache_dir):
        """`sql` is the harness's `oracle_sql` reply. The rebuilt record log
        depends only on the fixture tables (`fingerprint`) and the SQL, and
        takes DuckDB a couple of seconds, so it is kept as parquet in
        `cache_dir`, keyed by both."""
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ("events", "documents", "embeddings"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet({_lit(f'{fixture_dir}/{t}.parquet')})")
        key = hashlib.sha1(f"{fingerprint}|{sql['recs_multi_with']}".encode()).hexdigest()[:16]
        self.log_path = os.path.join(cache_dir, f"log-{key}.parquet")
        self.recs_sql = sql["recs_multi_with"]
        self.part_sql = sql["partition_sql"]
        self.pipeline_sql = sql["sql"]
        self.log_ready = False

    def _log(self):
        """Create the `log` view over the cached record log, building it first
        if needed."""
        if self.log_ready:
            return
        if not os.path.exists(self.log_path):
            tmp = f"{self.log_path}.tmp{os.getpid()}"
            self.con.execute(f"COPY ({self.recs_sql} SELECT * FROM recs UNION ALL "
                             f"SELECT * FROM recs_clicks) TO {_lit(tmp)} (FORMAT PARQUET)")
            os.replace(tmp, self.log_path)
        self.con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet({_lit(self.log_path)})")
        self.log_ready = True

    def typical_keys(self):
        """Keys of the `events` topic whose record counts lie between the
        40th and 60th percentile, in key order."""
        self._log()
        return [k for (k,) in self.con.execute(
            "WITH c AS (SELECT \"key\", count(*) AS n FROM log WHERE topic = 'events' "
            "GROUP BY ALL) SELECT \"key\" FROM c WHERE n BETWEEN "
            "(SELECT quantile_disc(n, 0.4) FROM c) AND (SELECT quantile_disc(n, 0.6) FROM c) "
            "ORDER BY \"key\"").fetchall()]

    def partition_of(self, key):
        """The murmur2 partition of `key`, as the program places it."""
        return self.con.execute(
            f"SELECT {self.part_sql} FROM (SELECT {_lit(key)} AS k)").fetchone()[0]

    def search_sql(self, opts):
        """DuckDB SQL for the (type, topic, partition, offset) tuples of a
        `/search` with options `opts`, following `graft.log.LogQuery`."""
        topics = ", ".join(_lit(t) for t in opts["topics"].split(","))
        conds = [f"topic IN ({topics})"]
        if "partitions" in opts:
            conds.append(f'"partition" IN ({", ".join(str(int(p)) for p in opts["partitions"].split(","))})')
        elif "default-partition" in opts:
            conds.append(f'"partition" = {self.partition_of(opts["key-regex"])}')
        scanned = f"SELECT * FROM log WHERE {' AND '.join(conds)}"
        if "relative-offset" in opts:
            n = int(opts["relative-offset"])
            start = f"b.e + {n}" if n >= 0 else f"b.l + ({n})"
            scanned = (
                f"SELECT s.* FROM ({scanned}) s JOIN (SELECT topic, \"partition\", "
                f"min(\"offset\") AS e, max(\"offset\") + 1 AS l FROM ({scanned}) "
                f"GROUP BY ALL) b USING (topic, \"partition\") "
                f"WHERE s.\"offset\" >= {start}")
        ts = []
        if "start-timestamp" in opts:
            ts.append(f'"timestamp" >= {int(opts["start-timestamp"])}')
        if "stop-timestamp" in opts:
            ts.append(f'"timestamp" < {int(opts["stop-timestamp"])}')
        consumed = f"SELECT * FROM ({scanned}) WHERE {' AND '.join(ts) or 'true'}"
        match = ["true"]
        if "key-regex" in opts:
            match.append(f"regexp_full_match(\"key\", {_lit(opts['key-regex'])})")
        if "val-regex" in opts:
            match.append(f"regexp_full_match(\"value\", {_lit(opts['val-regex'])})")
        q = (f"SELECT 'result' AS type, topic, \"partition\", \"offset\" "
             f"FROM ({consumed}) WHERE {' AND '.join(match)}")
        if "print-offset" in opts:
            q += (f" UNION ALL SELECT 'offset' AS type, topic, \"partition\", \"offset\" "
                  f"FROM ({consumed}) WHERE \"offset\" % {int(opts['print-offset'])} = 0")
        return q

    def search(self, opts):
        """(record count, digest) a `/search` with `opts` must return."""
        self._log()
        cols = self.con.execute(self.search_sql(opts)).fetchnumpy()
        return len(cols["offset"]), digest(
            cols["type"], cols["topic"], cols["partition"], cols["offset"])

    def pipeline_rows(self, name):
        return self.con.execute(
            f"SELECT count(*) FROM ({self.pipeline_sql[name]})").fetchone()[0]

    def follow_batch(self, key, event_ids):
        """(count, digest) of one follow batch: its records are results on
        topic `events`, at the key's partition, with the event id as offset."""
        p = self.partition_of(key)
        n = len(event_ids)
        return n, digest(["result"] * n, ["events"] * n, [p] * n, event_ids)
