"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import io
import socket
import threading
import time
import unittest

import numpy as np

import httpclient
import spans
import stats
import workloads


def chunked(parts):
    return b"".join(b"%x\r\n%s\r\n" % (len(p), p) for p in parts) + b"0\r\n\r\n"


HEAD = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\nContent-Type: application/json\r\n\r\n"
PIONEER = b'{"type":"pioneer"}'


class ChunkedReaderTest(unittest.TestCase):
    def read(self, raw):
        ticks = iter(range(1, 1000))
        saved = httpclient.clock
        httpclient.clock = lambda: next(ticks)
        try:
            r = httpclient.Response()
            httpclient.read_response(io.BytesIO(raw), r)
        finally:
            httpclient.clock = saved
        return r

    def test_first_record_is_the_chunk_after_the_pioneer(self):
        r = self.read(HEAD + chunked([b"[", PIONEER, b', {"a": 1}', b', {"a": 2}', b"]"]))
        self.assertEqual(r.status, 200)
        self.assertEqual(r.chunks, 5)
        self.assertEqual(r.body, b'[{"type":"pioneer"}, {"a": 1}, {"a": 2}]')
        # clock ticks: 1 headers, 2 after the first record's chunk, 3 end
        self.assertEqual((r.t_header, r.t_first, r.t_end), (1, 2, 3))

    def test_empty_result_times_first_record_at_the_close(self):
        r = self.read(HEAD + chunked([b"[", PIONEER, b"]"]))
        self.assertEqual(r.chunks, 3)
        self.assertEqual(r.t_first, 2)
        self.assertEqual(r.t_end, 3)

    def test_pioneer_split_across_chunks_is_not_a_record(self):
        r = self.read(HEAD + chunked([b'[{"type":', b'"pioneer"}', b', {"a": 1}]']))
        self.assertEqual(r.chunks, 3)
        self.assertEqual(r.t_first, 2)

    def test_truncated_body_is_an_error(self):
        with self.assertRaises(ValueError):
            self.read(HEAD + b"5\r\n[")

    def test_timing_over_a_real_socket(self):
        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)

        def serve():
            conn, _ = srv.accept()
            conn.recv(4096)
            conn.sendall(HEAD + chunked([b"[", PIONEER])[:-5])
            time.sleep(0.2)
            conn.sendall(chunked([b', {"a": 1}', b"]"]))
            conn.close()

        t = threading.Thread(target=serve)
        t.start()
        r = httpclient.get(srv.getsockname()[1], "/search")
        t.join()
        srv.close()
        self.assertIsNone(r.error)
        self.assertEqual(r.chunks, 4)
        self.assertGreaterEqual(r.t_first - r.t_send, 0.2)
        self.assertLess(r.t_header - r.t_send, 0.2)


class ArraySplitterTest(unittest.TestCase):
    def test_elements_complete_across_chunk_boundaries(self):
        text = '[{"type":"pioneer"}, {"value": {"k": "a}\\"b"}}, {"x": [1, {"y": 2}]}]'
        sp = httpclient.ArraySplitter()
        out = []
        for i in range(0, len(text), 3):
            out += sp.feed(text[i:i + 3])
        self.assertEqual(out, ['{"type":"pioneer"}', '{"value": {"k": "a}\\"b"}}',
                               '{"x": [1, {"y": 2}]}'])
        self.assertTrue(sp.closed)


class TailRankTest(unittest.TestCase):
    def test_rank_n_minus_ten(self):
        v, n, pct = stats.tail(list(range(1, 101)))
        self.assertEqual((v, n, pct), (90, 100, 90.0))
        v, n, pct = stats.tail(list(range(1, 1001)))
        self.assertEqual((v, pct), (990, 99.0))

    def test_short_runs_report_their_rank(self):
        self.assertEqual(stats.tail(list(range(24, 0, -1))), (14, 24, 100 * 14 / 24))
        self.assertEqual(stats.tail([5, 1, 3]), (1, 3, 100 / 3))

    def test_failures_rank_as_infinite(self):
        v, _, _ = stats.tail([1.0] * 30 + [float("inf")] * 11)
        self.assertEqual(stats.finite(v), stats.FAILED_LATENCY)


class DigestTest(unittest.TestCase):
    RECS = [("result", "events", 3, 17), ("result", "clicks", 3, 17),
            ("offset", "events", 3, 17), ("result", "events", 4, 0)]

    def dig(self, recs):
        return stats.digest(*zip(*recs)) if recs else stats.digest([], [], [], [])

    def test_order_insensitive(self):
        self.assertEqual(self.dig(self.RECS), self.dig(self.RECS[::-1]))

    def test_every_field_counts(self):
        base = self.dig(self.RECS)
        for i, field in enumerate(("offset", "clicks", 5, 18)):
            changed = list(self.RECS)
            rec = list(changed[0])
            rec[i] = field
            changed[0] = tuple(rec)
            self.assertNotEqual(self.dig(changed), base)

    def test_duplicates_and_missing_records_count(self):
        base = self.dig(self.RECS)
        self.assertNotEqual(self.dig(self.RECS + self.RECS[:1]), base)
        self.assertNotEqual(self.dig(self.RECS[1:]), base)

    def test_numpy_columns_match_lists(self):
        t, tp, p, o = zip(*self.RECS)
        self.assertEqual(stats.digest(np.array(t), np.array(tp), np.array(p, dtype=np.int32),
                                      np.array(o, dtype=np.int64)), self.dig(self.RECS))


class ScheduleTest(unittest.TestCase):
    def test_requests_are_a_function_of_the_seed(self):
        keys = [str(k) for k in range(100, 400)]
        for w in ("search_export", "search_grep"):
            self.assertEqual(workloads.search_requests(w, 7, keys),
                             workloads.search_requests(w, 7, keys))
            self.assertNotEqual(workloads.search_requests(w, 7, keys),
                                workloads.search_requests(w, 8, keys))

    def test_pass_orders_are_seeded_permutations(self):
        a, b = workloads.passes(3, "search_grep", 8), workloads.passes(3, "search_grep", 8)
        for _ in range(5):
            pa, pb = next(a), next(b)
            self.assertEqual(pa, pb)
            self.assertEqual(sorted(pa), list(range(8)))

    def test_follow_schedule(self):
        s = workloads.follow_schedule(11, 50)
        self.assertEqual(s, workloads.follow_schedule(11, 50))
        self.assertEqual(s[:10], workloads.follow_schedule(11, 10))
        # A later window continues the jitter sequence from its own start.
        for t, u in zip(s[10:], workloads.follow_schedule(11, 40, first=10)):
            self.assertAlmostEqual(t - 10 * workloads.FOLLOW_GAP_S, u)
        self.assertNotEqual(s, workloads.follow_schedule(12, 50))
        # The jitter does not accumulate: every rename stays within it of
        # its slot, so its phase against the 500 ms trigger is fixed.
        for i, t in enumerate(s):
            self.assertLessEqual(abs(t - (i + 1) * workloads.FOLLOW_GAP_S),
                                 workloads.FOLLOW_JITTER_S)

    def test_follow_windows_hold_whole_phase_cycles(self):
        self.assertEqual([workloads.follow_batch_count(s) for s in (1, 8, 13, 16, 20)],
                         [5, 5, 10, 10, 15])

    def test_search_path_encodes_regexes(self):
        path = workloads.search_path({"topics": "events", "key-regex": "1|2",
                                      "val-regex": '\\{"k": 4[27]\\}'}, "/data/sf")
        self.assertNotIn(" ", path)
        self.assertNotIn('"', path)
        self.assertEqual(path.count("&"), 3)


class SpansTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        def sp(i, parent, s, e):
            return {"rid": "r0", "id": i, "parent": parent, "name": f"s{i}",
                    "start_us": s, "end_us": e}
        own = spans.self_times([sp(1, 0, 0, 100), sp(2, 1, 10, 40), sp(3, 1, 30, 60),
                                sp(4, 1, 90, 120), sp(5, 2, 10, 20)])
        # children of 1 cover [10, 60] and [90, 100]: 60 of its 100
        self.assertEqual(own, {1: 40, 2: 20, 3: 30, 4: 30, 5: 10})


if __name__ == "__main__":
    unittest.main()
