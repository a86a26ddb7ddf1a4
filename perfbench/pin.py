"""Write ``perfbench/pins.json``: the output fingerprint of every
(workload, input variant) at the current code.

    python3 perfbench/pin.py

The benchmark counts an iteration whose output does not match its pin
as failed, so re-pin only when an output change is intended.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402


def main() -> int:
    run._environment()
    from birli_spark import session

    from perfbench import workloads

    pins = {}
    spark = session.get_spark("perfbench-pin", cpus=run.CPUS,
                              extra_conf=run._spark_conf())
    try:
        for cls in workloads.WORKLOADS.values():
            env = getattr(cls, "ENV", {})
            os.environ.update(env)
            for variant in range(cls.N_VARIANTS):
                wl = cls(run.WORK, variant)
                wl.prepare()
                wl.iterate(spark)
                _, params, data = wl.read_output()
                pins[wl.pin_key()] = workloads.fingerprint(params, data)
                wl.cleanup(spark)
                print(wl.pin_key(), file=sys.stderr)
            for k in env:
                del os.environ[k]
    finally:
        run._stop(spark)
    with open(workloads.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
