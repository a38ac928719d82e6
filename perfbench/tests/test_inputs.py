"""Determinism and shape of the seeded `etl_daily` input generator."""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402


class EtlSnapshotsTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_snapshots(self):
        a, ids_a = inputs.etl_snapshots(7, 4)
        b, ids_b = inputs.etl_snapshots(7, 4)
        self.assertEqual(a, b)
        self.assertEqual(ids_a, ids_b)
        self.assertNotEqual(a, inputs.etl_snapshots(8, 4)[0])

    def test_batches_resend_ids_and_carry_dirty_records(self):
        snaps, ids = inputs.etl_snapshots(3, 5)
        days = [json.loads(s) for s in snaps]
        self.assertTrue(all(len(d) == inputs.RECORDS_PER_DAY for d in days))
        # later days re-send earlier ids, so distinct ids grow by less
        # than a batch
        resent = int(inputs.RECORDS_PER_DAY * inputs.RESEND_SHARE)
        for d in range(1, 5):
            self.assertEqual(len(ids[d]) - len(ids[d - 1]), inputs.RECORDS_PER_DAY - resent)
        records = [r for d in days for r in d]
        self.assertTrue(any("end" not in r for r in records))
        self.assertTrue(any(r["type"] == "DISRUPTION" for r in records))
        self.assertTrue(all(r["publicationSections"][0]["section"]["stations"] for r in records))


if __name__ == "__main__":
    unittest.main()
