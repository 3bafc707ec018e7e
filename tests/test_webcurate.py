"""URL/domain curation: host and registered-domain extraction."""

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.textstats import url_host_expr, url_registered_domain_expr

URLS = [
    (0, "https://docs.example.com/guide/intro?x=1"),
    (1, "http://spam.bad-site.net/casino"),
    (2, "example.com/plain"),
    (3, "https://user:pw@deep.sub.example.org:8443/a#frag"),
    (4, "not a url at all"),
    (5, None),
    (6, "HTTPS://EXAMPLE.COM/UPPER"),
]


@pytest.fixture(scope="module")
def urls(spark):
    return spark.createDataFrame(URLS, ["id", "url"])


def test_host_and_domain_extraction(urls):
    rows = {r["id"]: r for r in urls.select(
        "id",
        url_host_expr("url").alias("host"),
        url_registered_domain_expr("url").alias("dom"),
    ).collect()}
    assert rows[0]["host"] == "docs.example.com" and rows[0]["dom"] == "example.com"
    assert rows[1]["dom"] == "bad-site.net"
    assert rows[2]["dom"] == "example.com"          # scheme-less
    assert rows[3]["host"] == "deep.sub.example.org"  # userinfo + port stripped
    assert rows[3]["dom"] == "example.org"
    assert rows[6]["dom"] == "example.com"          # case-folded
    assert rows[5]["host"] == "" or rows[5]["host"] is None
