"""Extractor wrapper for traced runs: the package's stub extractor with
a Spark accumulator counting model calls. Output is unchanged."""

from __future__ import annotations

from graph_rag_agent_spark.core.stub_extract import stub_extract


class CountingExtractor:
    def __init__(self, accumulator):
        self.calls = accumulator

    def __call__(self, text: str) -> str:
        self.calls.add(1)
        return stub_extract(text)
