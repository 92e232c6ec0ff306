"""The two workloads.  Each module exposes one class with:

* ``docs`` — input documents per pass (the base of ``docs_per_s``);
* ``materialize(slot)`` — build inputs and expected truth from the seed;
* ``run_pass(call)`` — one closed-loop pass; every public call of the
  package goes through ``call(name, fn, *args, plan_of=...)``;
* ``check(result)`` — problems with the pass's output, empty if correct;
* ``layers(result, trace, rates)`` — per-layer numbers from a traced
  pass, given the in-process kernel rates.
"""

from .curate import Curate
from .extract import Extract

WORKLOADS = {"extract": Extract, "curate": Curate}
