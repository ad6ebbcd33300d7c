"""get_spark returns a running session without touching its conf."""

from dbpedia_spotlight_spark.session import get_spark

CALLER_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "7",
}


def test_get_spark_keeps_a_running_sessions_conf(spark):
    old = {k: spark.conf.get(k) for k in CALLER_CONF}
    try:
        for k, v in CALLER_CONF.items():
            spark.conf.set(k, v)
        assert get_spark() is spark
        assert {k: spark.conf.get(k) for k in CALLER_CONF} == CALLER_CONF
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
