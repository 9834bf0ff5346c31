"""In-process LLM endpoint for ``HttpLLMClient(transport=...)``.

Answers each request with the ``StubLLM`` payload for its prompt after a
fixed wait, so the R5 stage has a real per-request latency without a
network. A seeded ~1% of prompts fail on their first attempt; the
client's retry policy must recover them. Requests, injected wait and
failures are counted in Spark accumulators, because the transport runs
inside Python workers.
"""

from __future__ import annotations

import functools
import hashlib
import json
import time

from ai_data_pipeline_spark.operators.llm_map import HttpLLMClient, StubLLM

from perfbench.inputs import fails_first_attempt

WAIT_S = 0.005
BACKOFF_S = 0.002


class StubTransport:
    def __init__(self, seed: int, requests, wait_s, retries) -> None:
        self.seed = seed
        self.requests, self.wait_s, self.retries = requests, wait_s, retries
        self._failed: set[bytes] = set()
        self._stub = StubLLM()

    def __call__(self, url: str, body: bytes, timeout: float) -> bytes:
        prompt = json.loads(body)["prompt"]
        self.requests.add(1)
        t0 = time.perf_counter()
        time.sleep(WAIT_S)
        self.wait_s.add(time.perf_counter() - t0)
        key = hashlib.md5(prompt.encode("utf-8")).digest()
        if key not in self._failed and fails_first_attempt(self.seed, prompt):
            self._failed.add(key)
            self.retries.add(1)
            raise ConnectionError("injected transient failure")
        return json.dumps({"response": self._stub.generate([prompt])[0]}).encode()


def client_factory(spark, seed: int):
    """(factory for ``llm_map``, {counter name: accumulator})."""
    sc = spark.sparkContext
    counters = {
        "requests": sc.accumulator(0),
        "wait_s": sc.accumulator(0.0),
        "retries": sc.accumulator(0),
    }
    transport = StubTransport(seed, counters["requests"], counters["wait_s"], counters["retries"])
    factory = functools.partial(
        HttpLLMClient,
        url="http://llm.invalid/api/generate",
        model="stub",
        max_retries=3,
        backoff_s=BACKOFF_S,
        transport=transport,
    )
    return factory, counters
