"""The simulated LLM provider the enrich workloads call.

It answers like ``DeterministicMockClient`` (a pure function of the prompt,
replayable by the DuckDB oracle) and adds a one-time 429 for a fixed share
of prompts. The throttled prompts are picked by prompt hash, so the set is
the same whatever the partitioning, thread interleaving or chunking.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

from ondine_spark.llm.client import DeterministicMockClient, TransientLLMError


def throttled(prompt: str, one_in: int) -> bool:
    return int(hashlib.md5(prompt.encode()).hexdigest()[:8], 16) % one_in == 0


def count_lines(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path, "rb") as f:
        return sum(1 for _ in f)


@dataclass
class BenchProvider(DeterministicMockClient):
    """``throttle_one_in=n`` answers the first attempt at one prompt in n
    (by hash) with a 429 carrying ``Retry-After: retry_after_s``; the retry
    succeeds. Each 429 appends a line to ``throttle_file``, and each answered
    call a line to ``count_file`` (the base class's call log)."""

    throttle_one_in: int = 0
    retry_after_s: float = 0.0
    throttle_file: str | None = None
    _throttled: set = field(default_factory=set, repr=False)

    def complete(self, prompt: str, system: str | None = None):
        if (
            self.throttle_one_in
            and prompt not in self._throttled
            and throttled(prompt, self.throttle_one_in)
        ):
            self._throttled.add(prompt)
            if self.throttle_file:
                with open(self.throttle_file, "a") as f:
                    f.write("1\n")
            raise TransientLLMError("429 Too Many Requests", retry_after=self.retry_after_s)
        return super().complete(prompt, system)
