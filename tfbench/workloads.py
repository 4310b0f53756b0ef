"""Workload definitions: which registry rows run, over which generated inputs.

``pass_s`` is the nominal warm pass time on the reference box (4 CPUs); the
number of timed passes is derived from it and ``--seconds`` only, so it
never depends on how fast the box running the benchmark is.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    rows: tuple[str, ...]
    sizes: dict = field(default_factory=dict)
    warmups: int = 3
    pass_s: float = 5.0

    def timed_passes(self, seconds: int, traced: bool) -> int:
        # a traced run times one untraced and one traced pass, which keeps
        # it (with its single-core baseline process) well inside a run's
        # time limit
        return 2 if traced else max(3, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="pit_backfill_replay",
            rows=("training_examples", "streaming_training_examples"),
            sizes={"events": 200_000, "users": 3_000, "zipf_s": 1.0},
            warmups=2,
            pass_s=4.5,
        ),
        Workload(
            name="curation_build",
            rows=("graph_truss_exact", "multimodal_codec", "sketch_hll_jvm"),
            sizes={"documents": 1_000},
            warmups=1,
            pass_s=6.0,
        ),
    )
}
