"""Regenerate every committed model file in doctr_spark/models_data/ (the
npz weights and the .onnx graphs) from its builder in
``doctr_spark.plans.models.committed_models``.

Usage: python scripts/make_tiny_weights.py

The output is deterministic: on a clean checkout,
``git status --porcelain doctr_spark/models_data`` stays empty afterwards.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from doctr_spark.plans.models import committed_models  # noqa: E402


def main() -> None:
    for path, (build, _) in committed_models().items():
        content = build()
        if path.endswith(".npz"):
            np.savez(path, **content)
        else:
            with open(path, "wb") as fh:
                fh.write(content)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
