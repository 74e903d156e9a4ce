"""JSON scalar functions: pure-python path engine (:mod:`.core`),
kernels over plain sequences (:mod:`.kernels`), Arrow-UDF plumbing
(:mod:`.udfs`) and the public Column API (:mod:`.api`)."""

from . import api, core, kernels, udfs  # noqa: F401
from .api import *  # noqa: F401,F403
