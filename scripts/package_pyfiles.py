"""Package pdf_parser_spark for spark-submit --py-files distribution."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pdf_parser_spark.session import build_pyfiles_zip  # noqa: E402


def main() -> str:
    out = build_pyfiles_zip(os.path.join(REPO, "dist", "pdf_parser_spark.zip"))
    print(out)
    return out


if __name__ == "__main__":
    main()
