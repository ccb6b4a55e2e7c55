"""Regenerate the committed quantized portable quality-classifier artifact.

Training is bit-deterministic (full-batch GD, fixed schedule, seeded
synthetic corpora), so the committed JSON is reproducible from source —
`tests/test_models.py::test_quality_portable_artifact_reproducible`
retrains and asserts bit equality. Usage:

    python tools/gen_quality_artifact.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataquality_spark.models import quality  # noqa: E402


def main() -> None:
    art = quality.train_quality()
    qart = quality.quantized_artifact(art)
    quality.save_quantized_artifact(qart)
    nz = int((qart["wq"] != 0).sum())
    print(f"wrote {quality.ARTIFACT_PATH}: {nz}/{len(qart['wq'])} nonzero "
          f"weights, bq={qart['bq']}")


if __name__ == "__main__":
    main()
