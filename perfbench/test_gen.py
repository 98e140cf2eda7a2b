"""Tests of the feed generator and its model of the expected end state.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest
from datetime import datetime

import gen


def row(key, version, delete=False, qty=1):
    r = {"Id": key, "versionnumber": version, "delete": delete, "sink": gen.EPOCH}
    if not delete:
        r["p"] = {"itemid": "I", "linenum": 1, "qty": qty, "dataareaid": "usmf",
                  "modifiedby": "u", "SinkModifiedOn": "2024-03-01 00:00:00",
                  "modifieddatetime": "2024-03-01 00:00:00", "createdon": "2024-03-01 00:00:00"}
    return r


class ModelTest(unittest.TestCase):
    def test_highest_version_wins_and_tombstones_remove(self):
        m = gen.Model()
        m.apply([row("A", 1, qty=1), row("A", 3, qty=3), row("B", 2), row("A", 2, qty=2)])
        self.assertEqual(m.state["a"][0], 3)
        self.assertEqual(m.state["a"][1]["qty"], 3)
        m.apply([row("B", 5, delete=True)])
        self.assertNotIn("b", m.state)

    def test_stale_row_after_tombstone_is_ignored(self):
        m = gen.Model()
        m.apply([row("A", 4, delete=True), row("A", 3)])
        self.assertNotIn("a", m.state)
        m.apply([row("A", 6)])
        self.assertEqual(m.state["a"][0], 6)

    def test_model_matches_latest_version_per_key(self):
        """The incremental model equals a from-scratch latest-version reduction."""
        feed = gen.Feed(7, 500, 20, 200)
        m, latest = gen.Model(), {}
        for _, rows in feed.folders():
            m.apply(rows)
            for r in rows:
                k = r["Id"].lower()
                if k not in latest or r["versionnumber"] > latest[k]["versionnumber"]:
                    latest[k] = r
        want = {k: r["versionnumber"] for k, r in latest.items() if not r["delete"]}
        self.assertEqual({k: v for k, (v, _) in m.state.items()}, want)

    def test_feed_has_updates_tombstones_and_in_folder_duplicates(self):
        feed = gen.Feed(3, 1000, 10, 1000)
        seen, updates, deletes, dups = set(), 0, 0, 0
        for i, rows in feed.folders():
            in_folder = set()
            for r in rows:
                k = r["Id"]
                deletes += r["delete"]
                updates += (k in seen) and not r["delete"]
                dups += k in in_folder
                in_folder.add(k)
                seen.add(k)
        self.assertGreater(updates, 3000)
        self.assertGreater(deletes, 300)
        self.assertGreater(dups, 50)


class FeedTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        def write(seed):
            d = tempfile.mkdtemp()
            for i, rows in gen.Feed(seed, 100, 3, 50).folders():
                gen.write_folder(d, i, rows, 2)
            out = {}
            for root, _, files in os.walk(d):
                for f in files:
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, d)] = open(p, "rb").read()
            return out
        self.assertEqual(write(5), write(5))
        self.assertNotEqual(write(5), write(6))

    def test_d365_timestamps_keep_the_vestigial_marker(self):
        self.assertEqual(gen.d365(datetime(2024, 3, 1, 0, 1, 2)), "3/1/2024 0:01:02 PM")
        self.assertEqual(gen.d365(datetime(2024, 3, 1, 0, 2, 2)), "3/1/2024 0:02:02 AM")
        self.assertEqual(gen.d365(datetime(2024, 3, 1, 13, 5, 6)), "3/1/2024 13:05:06 PM")
        self.assertEqual(gen.d365(datetime(2024, 3, 1, 9, 5, 6)), "3/1/2024 9:05:06 AM")

    def test_tombstone_and_insert_csv_shape(self):
        ins = gen.csv_line({"Id": "K", "versionnumber": 9, "delete": False, "sink": gen.EPOCH,
                            "p": {"itemid": "ITEM-1, bulk", "linenum": 1, "qty": 2,
                                  "dataareaid": "usmf", "modifiedby": "u",
                                  "SinkModifiedOn": "", "modifieddatetime": "2024-03-02 01:02:03",
                                  "createdon": "2024-03-02 01:02:03"}})
        self.assertIn('"ITEM-1, bulk"', ins)
        self.assertIn('"2024-03-02T01:02:03.0000000+00:00"', ins)
        self.assertTrue(ins.endswith(","))  # empty IsDelete
        tomb = gen.csv_line({"Id": "K", "versionnumber": 10, "delete": True, "sink": gen.EPOCH})
        self.assertTrue(tomb.endswith(",True"))
        self.assertEqual(len(tomb.split(",")), len(gen.COLUMNS))

    def test_land_stamps_the_changelog_after_the_folder(self):
        stg, root = tempfile.mkdtemp(), tempfile.mkdtemp()
        gen.write_folder(stg, 1, [row("A", 1)], 1)
        gen.land(stg, root, 1)
        name = gen.folder_name(1)
        self.assertTrue(os.path.exists(os.path.join(root, name, gen.ENTITY, "1.csv")))
        self.assertEqual(open(os.path.join(root, "Changelog", "changelog.info")).read(), name)


if __name__ == "__main__":
    unittest.main()
