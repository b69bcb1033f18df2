"""CLI entrypoint — the engine twin of the reference's
``job_entrypoint`` (``zeiss_job.py:230-249``):

    python -m aind_hcr_data_transformation_spark --job-settings '<json>'

Settings JSON matches :class:`config.ZarrConversionSettings` (reference
defaults). For environments without real CZI inputs, ``--synthetic
Z,Y,X`` converts a deterministic ramp stack end-to-end.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="aind_hcr_data_transformation_spark")
    parser.add_argument(
        "--job-settings",
        type=str,
        default="{}",
        help="JSON settings (ZarrConversionSettings fields)",
    )
    parser.add_argument(
        "--synthetic",
        type=str,
        default=None,
        metavar="Z,Y,X",
        help="convert a synthetic ramp stack with the given extent",
    )
    parser.add_argument("--stack-name", type=str, default="synthetic_stack")
    args = parser.parse_args(argv)

    from .config import ZarrConversionSettings
    from .session import get_spark

    settings = ZarrConversionSettings.from_dict(json.loads(args.job_settings))
    spark = get_spark("zarr-conversion")
    start = time.time()
    if args.synthetic:
        from .pipeline import convert_synthetic_stack

        z, y, x = (int(v) for v in args.synthetic.split(","))
        group = convert_synthetic_stack(
            spark, settings, args.stack_name, z_extent=z, y=y, x=x
        )
        # JobResponse analog (zeiss_job.py:224-226)
        print(
            json.dumps(
                {
                    "status_code": 200,
                    "message": f"wrote {group} in {time.time() - start:.1f}s",
                }
            )
        )
        return 0
    if settings.input_source:
        # real CZI directory (reference job shape, zeiss_job.py:42-60):
        # every *.czi under input_source converts to a multiscale group.
        # czifile decodes when installed; the vendored ZISRAW reader
        # (sources/zisraw.py) handles uncompressed stacks without it.
        import os

        from .pipeline import convert_czi_stacks, stack_is_complete
        from .sources.czi import list_stacks

        stacks = list_stacks(settings.input_source)
        if not stacks:
            print(
                json.dumps(
                    {
                        "status_code": 400,
                        "message": f"no *.czi stacks under {settings.input_source}",
                    }
                )
            )
            return 1
        # ONE sentinel sweep decides resume AND the report, then ONE
        # fused job converts every incomplete stack (tiles interleave
        # across cores — no per-stack straggler)
        todo = {
            name: path
            for name, path in stacks.items()
            if not stack_is_complete(
                os.path.join(settings.output_directory, f"{name}.zarr")
            )
        }
        if todo:
            convert_czi_stacks(spark, settings, todo)
        print(
            json.dumps(
                {
                    "status_code": 200,
                    "message": f"wrote {len(todo)} groups "
                    f"({len(stacks) - len(todo)} already complete) under "
                    f"{settings.output_directory} in {time.time() - start:.1f}s",
                }
            )
        )
        return 0
    print(
        json.dumps(
            {
                "status_code": 400,
                "message": "no input: set input_source to a CZI directory "
                "or use --synthetic Z,Y,X",
            }
        )
    )
    return 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
