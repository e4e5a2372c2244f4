"""The session helpers: the per-session memo and the scratch-dir
lifecycle."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from etl_cloud_batch_processing_spark.session import session_memo

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_memo_is_valid_while_result_frames_stay_cached(spark):
    builds = []

    @session_memo
    def frame(spark, n):
        builds.append(("frame", n))
        return spark.range(n).persist()

    @session_memo
    def pair(spark, n):
        builds.append(("pair", n))
        return spark.range(n).persist(), spark.range(n + 1).persist()

    @session_memo
    def path(spark, n):
        builds.append(("path", n))
        return f"/index/{n}"

    f, p, t = frame(spark, 3), path(spark, 3), pair(spark, 3)
    assert frame(spark, 3) is f and path(spark, 3) is p
    assert pair(spark, 3) is t
    assert frame(spark, 4) is not f        # per-args entries
    assert builds == [("frame", 3), ("path", 3), ("pair", 3), ("frame", 4)]

    t[1].unpersist()                       # one member of a tuple uncached
    assert pair(spark, 3) is not t
    spark.catalog.clearCache()
    assert frame(spark, 3) is not f        # a frame result rebuilds
    assert path(spark, 3) is p             # a path result does not
    assert builds[4:] == [("pair", 3), ("frame", 3)]


def test_scratch_dir_honours_late_tmpdir_and_is_removed_at_exit(tmp_path):
    early, late = tmp_path / "early", tmp_path / "late"
    early.mkdir()
    late.mkdir()
    code = textwrap.dedent(f"""
        import os
        from etl_cloud_batch_processing_spark.session import scratch_dir
        os.environ["TMPDIR"] = {str(late)!r}
        a, b = scratch_dir("a_"), scratch_dir("b_")
        assert a != b and os.listdir(a) == [] and os.listdir(b) == []
        assert os.path.dirname(a) == os.path.dirname(b)
        print(a)
    """)
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         env={**os.environ, "TMPDIR": str(early)},
                         capture_output=True, text=True, check=True)
    made = out.stdout.strip()
    assert os.path.dirname(os.path.dirname(made)) == str(late)
    assert os.listdir(late) == [] and os.listdir(early) == []
