"""The seeded sensor network the ingest workload fetches from.

``fetch_urls`` pickles the transport into its ``mapInPandas`` tasks, so
this module is imported by Python workers: it imports nothing from the
benchmark's Spark side, and the launcher puts the checkout root on the
workers' ``PYTHONPATH``.
"""

from __future__ import annotations

from urllib.parse import parse_qs, urlsplit

from aws_seismic_data_pipeline_spark.sources.http_fetch import FetchError

from perfbench.gen import payload, url_outcome


class SeededTransport:
    """A blocking GET with ``stub_transport``'s error semantics (404 →
    HTTP_ERROR, timeout → CONNECTION_ERROR, empty → b"") whose outcome
    and payload size come from the seed instead of URL flags."""

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def __call__(self, url: str) -> bytes:
        q = {k: v[0] for k, v in parse_qs(urlsplit(url).query).items()}
        outcome, size = url_outcome(self.seed, q["net"], q["sta"], q["cha"], q["start"])
        if outcome == "http_404":
            raise FetchError("HTTP_ERROR", f"404 Not Found: {url}")
        if outcome == "timeout":
            raise FetchError("CONNECTION_ERROR", f"timeout connecting: {url}")
        if outcome == "empty":
            return b""
        return payload(self.seed, url, size)
