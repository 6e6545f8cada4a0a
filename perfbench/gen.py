"""Seeded tables for the benchmark.

`tools/gen_sf.py` defines the schemas and distributions but fixes its
RNG seed at 42; this wrapper runs the same generator with the seed it
is given.  Usage: python3 gen.py <sf> <seed> <outdir>
"""
import contextlib
import importlib.util
import os
import sys

import numpy as np


def load_gen_sf(repo):
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(repo, "tools", "gen_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(repo, sf, seed, out):
    gen_sf = load_gen_sf(repo)
    default_rng = np.random.default_rng
    np.random.default_rng = lambda _fixed: default_rng(seed)
    try:
        os.makedirs(out, exist_ok=True)
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.main(sf, out)
    finally:
        np.random.default_rng = default_rng
