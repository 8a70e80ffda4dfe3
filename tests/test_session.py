"""Session confs: the engine sets only what differs from Spark's defaults,
so a launcher's ``--conf`` for any other key holds."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fresh_session(get_spark_args: str, keys: list[str], **env: str) -> dict:
    """Start ``get_spark(<get_spark_args>)`` in a new Python process (so a
    new JVM) with ``env`` added, and return the master and ``keys`` as
    the session's SparkConf holds them."""
    code = (
        "import json\n"
        "from yckg_spark.session import get_spark\n"
        f"s = get_spark({get_spark_args})\n"
        "conf = s.sparkContext.getConf()\n"
        f"out = {{k: conf.get(k) for k in {keys!r}}}\n"
        "out['master'] = s.sparkContext.master\n"
        "s.stop()\n"
        "print(json.dumps(out))\n"
    )
    base = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    base["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, base.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", code], env={**base, **env}, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_launcher_conf_is_honoured(tmp_path):
    """A ``--conf`` given to the launcher (spark-submit, here through
    ``PYSPARK_SUBMIT_ARGS``) for a key the engine leaves at Spark's default
    reaches the session instead of being overridden by the builder."""
    local_dir = str(tmp_path / "local")
    submit = (
        "--conf spark.sql.files.maxPartitionBytes=4194304"
        " --conf spark.sql.adaptive.enabled=false"
        f" --conf spark.local.dir={local_dir} pyspark-shell"
    )
    got = _fresh_session(
        'master="local[1]"',
        ["spark.sql.files.maxPartitionBytes", "spark.sql.adaptive.enabled", "spark.local.dir"],
        PYSPARK_SUBMIT_ARGS=submit,
    )
    assert got == {
        "spark.sql.files.maxPartitionBytes": "4194304",
        "spark.sql.adaptive.enabled": "false",
        "spark.local.dir": local_dir,
        "master": "local[1]",
    }


def test_default_master_uses_every_core():
    """With ``SPARK_GRAFT_CPUS`` unset and no master given, the session runs
    one task thread per core."""
    got = _fresh_session("", [])
    assert got == {"master": "local[*]"}


def test_engine_relies_on_spark_defaults(spark):
    """Defaults the engine relies on without setting them: AQE with
    skew-join splitting (head entities are skewed: one category covers
    ~35% of the reference's businesses) and Arrow batches of 10,000 rows;
    plus the confs it does set."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "10000"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
