"""Work a benchmark run hands to a short-lived child process, so that the
memory it takes and the engine state it leaves never show in the
measured process.

    python3 perfbench/child.py batch-inputs WORK SEED
        write the batch workload's CSVs under WORK and print, as JSON,
        their description plus DuckDB's reference answers
    python3 perfbench/child.py stream-model WORK MODEL_DIR
        train the stream workload's deployed model and save it to
        MODEL_DIR (written under a temporary name, then renamed)

The caller has already set the environment a run uses (``run.py``).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def batch_inputs(work: str, seed: int) -> None:
    from batch import make_inputs

    json.dump(make_inputs(work, seed), sys.stdout)


def stream_model(work: str, model_dir: str) -> None:
    import run
    from core import Phase
    from stream import build_model

    ph = Phase("stream-model", traced=False, conf=run.spark_conf(work, event_log=False))
    try:
        ph.start_session()
        build_model(ph, work, model_dir)
    finally:
        run.shutdown_engine()


if __name__ == "__main__":
    task, work, arg = sys.argv[1:4]
    if task == "batch-inputs":
        batch_inputs(work, int(arg))
    elif task == "stream-model":
        stream_model(work, arg)
    else:
        sys.exit(f"unknown task {task!r}")
