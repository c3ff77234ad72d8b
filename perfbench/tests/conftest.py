from __future__ import annotations

import argparse
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from gen import InputSpec  # noqa: E402
from reference import load_check_oracle  # noqa: E402
from workloads import Workload  # noqa: E402

sys.path.insert(0, run.ROOT)

SMALL = InputSpec(sf=0.001, events=500, docs=60, vectors=60, exact_share=0.2, near_share=0.2)


def make_bench(name: str, queries: tuple[str, ...] = (), seed: int = 5, chunks: int = 0) -> run.Bench:
    wl = Workload(name=name, inputs=SMALL, queries=queries, chunks=chunks)
    args = argparse.Namespace(workload=name, seed=seed, seconds=0, trace=0)
    return run.Bench(args, wl, load_check_oracle(run.ROOT))


@pytest.fixture(scope="session")
def bench(tmp_path_factory):
    """A session started the way the benchmark starts it, from a working
    directory outside the repository."""
    b = make_bench("tests")
    b.prepare_env()
    b.generate()
    cwd = os.getcwd()
    os.chdir(tmp_path_factory.mktemp("elsewhere"))
    try:
        b.start_session()
    finally:
        os.chdir(cwd)
    yield b
    run.stop_session(b.spark)
    shutil.rmtree(b.work, ignore_errors=True)
