"""Each check must pass on right outputs and fail on a corrupted one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The tests make the outputs the harness would write from the inputs' own
truth (no JVM), check that they pass, then corrupt one thing at a time.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


class Tmp(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


# ---------------------------------------------------------------- seis_build
def encode(series):
    v = series.reshape(-1)
    off, sc = v.min(), v.max() - v.min()
    codes = np.floor((v - off) / sc * checks.MAX_CODE).astype("<u2")
    return v.size, off, sc, zlib.compress(codes.tobytes()), codes / checks.MAX_CODE * sc + off


class SeisChecks(Tmp):
    def setUp(self):
        super().setUp()
        data, out = (os.path.join(self.dir, d) for d in ("data", "out"))
        rng = np.random.default_rng(5)
        truth = inputs.seis_fixture(rng, f"{data}/fixture", 3, 4)
        truth["kept"] = inputs.kept_points(truth["ids"], 3)
        truth["points"] = [g for _, _, g in truth["kept"]][:5]
        rows, full = {"sgt": [], "dgf": []}, []
        for spec, p, g in truth["kept"]:
            for kind, series in (("sgt", checks._series_sgt(truth, spec * 125 + p)),
                                 ("dgf", checks._series_dgf(truth, g))):
                n, off, sc, payload, dec = encode(series)
                rows[kind].append((g, n, off, sc, payload, checks.BITS))
                if kind == "sgt":
                    f, q, s = np.unravel_index(np.arange(n), series.shape)
                    full += [(g, int(a), int(b), truth["steps"][c], truth["steps"][c] * 0.05, d)
                             for a, b, c, d in zip(f, q, s, dec)]
        res = {"scan_checks": [[len(full), float(sum(r[5] for r in full))]]}
        for kind in ("sgt", "dgf"):
            path = f"{self.dir}/db/{kind}/network=XX/station=S0001/proc=proc000000"
            os.makedirs(path)
            cols = list(zip(*rows[kind]))
            pq.write_table(pa.table({"gll": pa.array(cols[0], pa.int64()),
                                     "n": pa.array(cols[1], pa.int32()), "offset": cols[2],
                                     "scale": cols[3], "payload": pa.array(cols[4], pa.binary()),
                                     "bits": pa.array(cols[5], pa.int32())}), f"{path}/part-0.parquet")
            res[f"{kind}_db"] = f"{self.dir}/db/{kind}"
        c = list(zip(*full))
        os.makedirs(f"{out}/sgt_full")
        pq.write_table(pa.table({"gll": pa.array(c[0], pa.int64()), "force": pa.array(c[1], pa.int32()),
                                 "param": pa.array(c[2], pa.int32()), "step": pa.array(c[3], pa.int64()),
                                 "t_sec": c[4], "value": c[5]}), f"{out}/sgt_full/part-0.parquet")
        self.full = full
        self.truth, self.out, self.res = truth, out, res
        self.write_points(lambda r: r)

    def write_points(self, edit):
        row = np.dtype([("force", ">i4"), ("param", ">i4"), ("step", ">i8"), ("value", ">f8")])
        with open(f"{self.out}/points.bin", "wb") as f:
            for g in self.truth["points"] * 2:
                rs = np.array([(a, b, s, v) for gg, a, b, s, _, v in self.full if gg == g], row)
                f.write(np.array([g], ">i8").tobytes() + np.array([len(rs)], ">i4").tobytes()
                        + edit(rs).tobytes())

    def problems(self):
        return checks.check_seis(self.truth, None, self.out, self.res)

    def rewrite(self, path, column, fn):
        t = pq.read_table(path)
        i = t.column_names.index(column)
        pq.write_table(t.set_column(i, column, pa.array(fn(t.column(column).to_pylist()),
                                                        t.schema.field(column).type)), path)

    def test_right_outputs_pass(self):
        self.assertEqual(self.problems(), [])

    def test_decoded_sample_off_by_more_than_the_bound(self):
        def bump(vs):
            vs[7] += 1e-9
            return vs
        self.rewrite(f"{self.out}/sgt_full/part-0.parquet", "value", bump)
        self.assertTrue(self.problems())

    def test_wrong_offset(self):
        self.rewrite(self.res["sgt_db"] + "/network=XX/station=S0001/proc=proc000000/part-0.parquet",
                     "offset", lambda xs: [xs[0] * 1.0001] + xs[1:])
        self.assertTrue(self.problems())

    def test_missing_point(self):
        path = self.res["dgf_db"] + "/network=XX/station=S0001/proc=proc000000/part-0.parquet"
        pq.write_table(pq.read_table(path).slice(1), path)
        self.assertTrue(self.problems())

    def test_corrupt_payload(self):
        def flip(ps):
            raw = bytearray(zlib.decompress(ps[0]))
            raw[3] ^= 0x40
            return [zlib.compress(bytes(raw))] + ps[1:]
        self.rewrite(self.res["dgf_db"] + "/network=XX/station=S0001/proc=proc000000/part-0.parquet",
                     "payload", flip)
        self.assertTrue(self.problems())

    def test_point_read_differs_from_full_read(self):
        def bump(rs):
            rs = rs.copy()
            rs["value"][2] += 1e-12
            return rs
        self.write_points(bump)
        self.assertTrue(self.problems())

    def test_timed_decode_count(self):
        self.res["scan_checks"][0][0] -= 1
        self.assertTrue(self.problems())


# ----------------------------------------------------------- corpus_curation
EXACT_SQL = ("SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id "
             "FROM documents GROUP BY md5(text) ORDER BY text_hash")


class CurationChecks(Tmp):
    def setUp(self):
        super().setUp()
        self.data, self.out = (os.path.join(self.dir, d) for d in ("data", "out"))
        os.makedirs(f"{self.out}/results")
        saved = (inputs.CORPUS_DOCS, inputs.CORPUS_EMB, inputs.PLANTED_NEAR, inputs.PLANTED_EXACT)
        inputs.CORPUS_DOCS, inputs.CORPUS_EMB, inputs.PLANTED_NEAR, inputs.PLANTED_EXACT = 300, 200, 20, 5
        try:
            self.truth = inputs.corpus(np.random.default_rng(9), self.data)
        finally:
            inputs.CORPUS_DOCS, inputs.CORPUS_EMB, inputs.PLANTED_NEAR, inputs.PLANTED_EXACT = saved
        con = checks.duck(self.data)
        rel = con.sql(EXACT_SQL)
        self.write("q_exact_dedup", rel.columns, [list(r) for r in rel.fetchall()])
        rep = {d: d for d in self.truth["texts"]}
        for a, b in self.truth["near"] + self.truth["exact"]:
            rep[b] = rep[a]
        size = {c: list(rep.values()).count(c) for c in set(rep.values())}
        self.write("q_minhash_dedup_reps", ["doc_id", "cluster_rep", "n_dups", "is_dup"],
                   [[d, c, size[c], int(d != c)] for d, c in sorted(rep.items())])
        fps = {"q_exact_dedup": 1, "q_minhash_dedup_reps": 2}
        self.res = {"oracle_sql": {"q_exact_dedup": EXACT_SQL, "q_minhash_dedup_reps": "unused"},
                    "first_fingerprints": fps, "fingerprints": [dict(fps)]}

    def write(self, key, columns, rows):
        with open(f"{self.out}/results/{key}.json", "w") as f:
            json.dump({"columns": columns, "rows": rows}, f)

    def edit(self, key, fn):
        path = f"{self.out}/results/{key}.json"
        with open(path) as f:
            r = json.load(f)
        fn(r["rows"])
        with open(path, "w") as f:
            json.dump(r, f)

    def problems(self):
        return checks.check_curation(self.truth, self.data, self.out, self.res)

    def test_right_outputs_pass(self):
        self.assertEqual(self.problems(), [])

    def test_result_differs_from_oracle(self):
        self.edit("q_exact_dedup", lambda rows: rows[4].__setitem__(2, rows[4][2] + 1))
        self.assertTrue(self.problems())

    def test_later_pass_differs(self):
        self.res["fingerprints"][0]["q_exact_dedup"] = 7
        self.assertTrue(self.problems())

    def test_false_merge(self):
        def merge(rows):
            rows[1][1], rows[1][2], rows[1][3] = 0, 2, 1
            rows[0][2] = 2
        self.edit("q_minhash_dedup_reps", merge)
        self.assertTrue(self.problems())

    def test_planted_near_duplicates_missed(self):
        copies = {b for _, b in self.truth["near"][:5]}

        def split(rows):
            for r in rows:
                if r[0] in copies:
                    r[1], r[2], r[3] = r[0], 1, 0
                elif r[2] == 2 and any(r[0] == a for a, b in self.truth["near"][:5]):
                    r[2] = 1
        self.edit("q_minhash_dedup_reps", split)
        self.assertTrue(self.problems())


# ------------------------------------------------------------ vector_serving
class ServingChecks(Tmp):
    def setUp(self):
        super().setUp()
        saved = (inputs.VEC_N, inputs.VEC_DELTA)
        inputs.VEC_N, inputs.VEC_DELTA = 600, 40
        try:
            self.truth = inputs.vectors(np.random.default_rng(4), self.dir)
        finally:
            inputs.VEC_N, inputs.VEC_DELTA = saved
        self.logs = [
            {"phase": phase, "kind": kind, "probe": probe, "exclude": phase == "pre",
             "rows": self.answer(phase, probe, exclude=phase == "pre")}
            for phase, a, b in [("pre", 3, 9),
                                ("post", inputs.DELTA_BASE_ID + 1, inputs.DELTA_BASE_ID + 2)]
            for kind, probe in (("ivf", a), ("pq", b))]
        self.write()

    def answer(self, phase, probe, exclude):
        """Exact top-10 by cosine over the live vectors, rounded like Spark."""
        t = self.truth
        unit = t["vecs"] / np.linalg.norm(t["vecs"], axis=1, keepdims=True)
        live = t["n_base_vecs"] if phase == "pre" else len(t["vec_ids"])
        i = int(np.where(t["vec_ids"] == probe)[0][0])
        cos = unit[:live] @ unit[i]
        if exclude:
            cos[i] = -np.inf
        return [[int(t["vec_ids"][j]), checks.round4(cos[j])]
                for j in np.argsort(-cos, kind="stable")[:10]]

    def write(self):
        with open(f"{self.dir}/queries.jsonl", "w") as f:
            f.write("".join(json.dumps(q) + "\n" for q in self.logs))

    def problems(self):
        return checks.check_serving(self.truth, self.dir, self.dir, {})

    def test_right_outputs_pass(self):
        self.assertEqual(self.problems(), [])

    def test_wrong_score(self):
        self.logs[0]["rows"][3][1] += 0.0001
        self.write()
        self.assertTrue(self.problems())

    def test_not_descending(self):
        r = self.logs[1]["rows"]
        r[0], r[5] = r[5], r[0]
        self.write()
        self.assertTrue(self.problems())

    def test_appended_vector_not_its_own_top_hit(self):
        q = self.logs[2]
        q["rows"] = self.answer(q["phase"], q["probe"], exclude=True)
        self.write()
        self.assertTrue(self.problems())

    def test_low_recall(self):
        t = self.truth
        unit = t["vecs"] / np.linalg.norm(t["vecs"], axis=1, keepdims=True)
        for q in self.logs:
            if q["kind"] == "ivf" and q["phase"] == "pre":
                i = int(np.where(t["vec_ids"] == q["probe"])[0][0])
                far = np.argsort(unit[:t["n_base_vecs"]] @ unit[i])[:10]
                q["rows"] = sorted(([int(t["vec_ids"][j]), checks.round4(unit[j] @ unit[i])]
                                    for j in far), key=lambda r: (-r[1], r[0]))
        self.write()
        self.assertTrue(self.problems())


class MetricLists(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.LAYER_UNITS)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
