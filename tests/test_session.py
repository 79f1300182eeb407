"""Session configuration: a caller-built session passed through
``__spark_entry__._configure`` runs with ``get_spark``'s runtime confs."""

from __future__ import annotations

from feature_store_spark.session import SESSION_CONFS


def test_configure_matches_get_spark_confs(spark):
    """A session holding none of the engine's conf values, after
    ``__spark_entry__._configure``, holds ``get_spark``'s value for
    every key of ``SESSION_CONFS``. (A new session in the test JVM
    inherits the context's confs, so a caller's bare session is
    modelled by setting every key to a value the engine does not use.)"""
    import __spark_entry__

    other = {"true": "false", "UTC": "America/Los_Angeles", "TIMESTAMP_MICROS": "INT96"}
    bare = spark.newSession()
    for key, value in SESSION_CONFS.items():
        bare.conf.set(key, other[value])

    __spark_entry__._configure(bare)
    want = {key: spark.conf.get(key) for key in SESSION_CONFS}
    assert want == SESSION_CONFS
    assert {key: bare.conf.get(key) for key in SESSION_CONFS} == want
