"""``bench.py``'s per-face measurement, run on one sf0.001 face."""

import __spark_entry__
import bench


def test_measure_face_records_build_exec_jobs_and_explains(
    spark, sf_dir, tmp_path, capsys
):
    query = __spark_entry__.queries()["rel_agg_q1"]
    frames = []

    def build(spark, d):
        frames.append(query(spark, d))
        return frames[-1]

    plan = tmp_path / "rel_agg_q1.txt"
    rec = bench.measure_face(
        spark, build, sf_dir, sf_dir, n_runs=1, explain_path=str(plan)
    )
    assert len(frames) == 2  # the warm-up, then one timed sample
    assert {"build", "exec", "jobs"} <= rec.keys()
    assert rec["jobs"] >= 1
    assert rec["samples"] == 1

    capsys.readouterr()
    frames[-1].explain("formatted")
    assert plan.read_text() == capsys.readouterr().out
