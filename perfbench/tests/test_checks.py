"""Tests of the output checks on tiny fixtures. Run from the repository root:

    python3 perfbench/tests/test_checks.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


def write_json_lines(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def write_parquet(con, path, sql):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


class StreamChecks(unittest.TestCase):
    """Two published drops of three events each, consumed as two
    micro-batches; each test breaks one thing."""

    def build(self, root, raw, pickup=None, combined_extra=""):
        bus = os.path.join(root, "bus")
        for d, ids in ((0, (1, 2, 3)), (1, (4, 5, 6))):
            write_json_lines(f"{bus}/batch_{d:06d}/part-00000.json",
                             [{"event_id": i, "user_id": i % 2, "event_type": "view"}
                              for i in ids])
        con = checks._duckdb()
        out = os.path.join(root, "out")
        con.execute("CREATE TABLE raw AS SELECT * FROM (VALUES " + raw +
                    ") t(event_id, user_id, event_type, batch_id)")
        write_parquet(con, f"{out}/raw/batch_id=0/part-0.parquet", "SELECT * FROM raw")
        agg = ("SELECT CAST({k} AS VARCHAR) AS location_id, count(*) AS trip_count, "
               "'{tag}' AS aggregation_type, batch_id FROM raw GROUP BY {k}, batch_id")
        pickup = pickup or agg.format(k="user_id", tag="pickup_location")
        dropoff = agg.format(k="event_type", tag="dropoff_location")
        write_parquet(con, f"{out}/pickup_agg/batch_id=0/part-0.parquet", pickup)
        write_parquet(con, f"{out}/dropoff_agg/batch_id=0/part-0.parquet", dropoff)
        write_parquet(con, f"{out}/combined_agg/batch_id=0/part-0.parquet",
                      f"{pickup} UNION ALL {dropoff} {combined_extra}")
        con.close()
        return checks.stream_outputs({"bus": bus, "watched": bus,
                                      "catchup": out, "paced": out})["paced"]

    GOOD = ("(1, 1, 'view', 'batch_000000'), (2, 0, 'view', 'batch_000000'), "
            "(3, 1, 'view', 'batch_000000'), (4, 0, 'view', 'batch_000001'), "
            "(5, 1, 'view', 'batch_000001'), (6, 0, 'view', 'batch_000001')")

    def test_clean_run(self):
        with tempfile.TemporaryDirectory() as root:
            c = self.build(root, self.GOOD)
        self.assertEqual((c["published_rows"], c["raw_rows"], c["raw_distinct_event_ids"]),
                         (6, 6, 6))
        self.assertEqual(c["unpublished_rows"], 0)
        self.assertEqual(c["batches_with_count_mismatch"], 0)
        self.assertEqual(c["combined_minus_union_rows"], 0)
        self.assertEqual([(d["drop"], d["rows"], d["batches"], d["batch_id"])
                          for d in c["drops"]], [(0, 3, 1, 0), (1, 3, 1, 1)])

    def test_drop_split_across_batches(self):
        raw = self.GOOD.replace("(3, 1, 'view', 'batch_000000')",
                                "(3, 1, 'view', 'batch_000001')")
        with tempfile.TemporaryDirectory() as root:
            c = self.build(root, raw)
        self.assertEqual(c["drops"][0]["batches"], 2)

    def test_lost_and_foreign_rows(self):
        raw = self.GOOD.replace("(6, 0, 'view', 'batch_000001')",
                                "(7, 0, 'view', 'batch_000001')")
        with tempfile.TemporaryDirectory() as root:
            c = self.build(root, raw)
        self.assertEqual(c["drops"][1]["rows"], 2)
        self.assertEqual(c["unpublished_rows"], 1)

    def test_aggregate_counts_must_add_up(self):
        short = ("SELECT CAST(user_id AS VARCHAR) AS location_id, count(*) - 1 AS trip_count, "
                 "'pickup_location' AS aggregation_type, batch_id FROM raw "
                 "GROUP BY user_id, batch_id")
        with tempfile.TemporaryDirectory() as root:
            c = self.build(root, self.GOOD, pickup=short)
        self.assertEqual(c["batches_with_count_mismatch"], 2)

    def test_combined_is_the_union(self):
        extra = ("UNION ALL SELECT 'x' AS location_id, 1 AS trip_count, "
                 "'pickup_location' AS aggregation_type, 'batch_000000' AS batch_id")
        with tempfile.TemporaryDirectory() as root:
            c = self.build(root, self.GOOD, combined_extra=extra)
        self.assertEqual(c["combined_minus_union_rows"], 1)


class OracleCompare(unittest.TestCase):
    def summary(self, sql):
        con = checks._duckdb()
        try:
            return checks.summarize(con.sql(sql))
        finally:
            con.close()

    def test_equal_up_to_row_and_column_order(self):
        a = self.summary("SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(x, y)")
        b = self.summary("SELECT y, x FROM (VALUES (2, 'b'), (1, 'a')) t(x, y)")
        self.assertIsNone(checks.compare(a, b))

    def test_type_row_and_value_differences(self):
        base = self.summary("SELECT 1 AS x, CAST('2.5' AS DOUBLE) AS v")
        wider = self.summary("SELECT CAST(1 AS HUGEINT) AS x, CAST('2.5' AS DOUBLE) AS v")
        self.assertIn("column types differ", checks.compare(wider, base))
        more = self.summary("SELECT 1 AS x, CAST('2.5' AS DOUBLE) AS v "
                            "FROM range(2)")
        self.assertIn("rows", checks.compare(more, base))
        # one ulp away
        other = self.summary("SELECT 1 AS x, CAST('2.5000000000000004' AS DOUBLE) AS v")
        self.assertEqual(checks.compare(other, base), "values differ")
        renamed = self.summary("SELECT 1 AS x, CAST('2.5' AS DOUBLE) AS w")
        self.assertIn("columns", checks.compare(renamed, base))


if __name__ == "__main__":
    unittest.main()
