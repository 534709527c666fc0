"""Sources (SURVEY.md §2.1): distributed scans replacing the reference's
pull-based Source tasks (radient/tasks/sources/_base.py:7-21).

- local_source ≡ LocalSource's recursive directory walk
  (sources/local.py:7-26) — but distributed, with the file listing done by
  Spark's InMemoryFileIndex and contents read by executors.
- ingest ≡ IngestSource's copy-into-managed-location (sources/ingest.py:
  7-18) — write to a managed parquet dataset instead of ~/.radient/data.
- youtube_source ≡ YoutubeSource (sources/youtube.py:15-64): network
  acquisition is driver-side (yt-dlp is not distributable), then the
  downloaded paths become a DataFrame for distributed processing; gated
  behind an import-try exactly like the reference's LazyImport.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from radient_spark.session import local_frame


def local_source(
    spark: SparkSession, path: str, recursive: bool = True
) -> DataFrame:
    """Binary-file scan of a directory tree: (path, modificationTime,
    length, content). Pushdown-friendly: pathGlobFilter/ modifiedAfter
    options apply at the listing, so executors never open skipped files."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )


def ingest(df: DataFrame, target_dir: str, mode: str = "append") -> None:
    """COPY-INTO-style managed ingest (≡ IngestSource): append the batch to
    a managed parquet location; readers see a consistent snapshot."""
    df.write.mode(mode).parquet(target_dir)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing is the zero-shuffle join strategy for fact-to-fact joins
    too big to broadcast: two tables bucketed on the join key with the
    same bucket count join with NO Exchange on either side — the
    co-location is established once at write time and amortized over
    every subsequent join. (tests/test_bucketing.py asserts the
    Exchange-free plan.)
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


class YoutubeIncrementalSource:
    """The reference's stateful one-video-per-call pull contract
    (sources/youtube.py:51-64): each `read()` downloads and returns the
    NEXT url's local path; an exhausted source returns None forever —
    the sentinel the workflow layer uses to stop pulling. The eager
    all-at-once form is `youtube_source` below.

    `ydl_factory` injects a fake downloader for network-free tests;
    when None, yt_dlp is required (import-gated like the reference's
    LazyImport)."""

    def __init__(
        self,
        urls: list[str],
        output_directory: str,
        ydl_factory=None,
    ):
        if ydl_factory is None:  # pragma: no cover - yt_dlp not in CI
            try:
                import yt_dlp
            except ImportError as e:
                raise ImportError(
                    "yt_dlp is required for YoutubeIncrementalSource"
                ) from e

            def ydl_factory():
                return yt_dlp.YoutubeDL(
                    {
                        "format": "mp4",
                        "outtmpl": f"{output_directory}/%(id)s.%(ext)s",
                        "quiet": True,
                    }
                )

        self._urls = list(urls)
        self._idx = 0
        self._output_directory = output_directory
        self._ydl = ydl_factory()

    def read(self) -> str | None:
        if self._idx == len(self._urls):
            return None
        url = self._urls[self._idx]
        meta = self._ydl.extract_info(url, download=False)
        meta = self._ydl.sanitize_info(meta)
        path = self._ydl.prepare_filename(meta)
        self._ydl.download(url)
        self._idx += 1
        return path

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Drain the remaining urls into a DataFrame of local paths for
        distributed downstream processing (demux/vectorize)."""
        paths = []
        while (p := self.read()) is not None:
            paths.append((p,))
        return local_frame(spark, paths, "path string")


def youtube_source(
    spark: SparkSession, url: str, output_directory: str
) -> DataFrame:  # pragma: no cover - network + yt_dlp not in CI
    """Driver-side yt-dlp download -> DataFrame of local file paths
    (≡ sources/youtube.py:15-64, one mp4 per playlist entry)."""
    try:
        import yt_dlp  # noqa: F401
    except ImportError as e:
        raise ImportError("yt_dlp is required for youtube_source") from e
    import yt_dlp

    opts = {
        "format": "mp4",
        "outtmpl": f"{output_directory}/%(id)s.%(ext)s",
        "quiet": True,
    }
    paths = []
    with yt_dlp.YoutubeDL(opts) as ydl:
        info = ydl.extract_info(url, download=True)
        entries = info.get("entries") or [info]
        for ent in entries:
            paths.append((ent["id"], f"{output_directory}/{ent['id']}.mp4"))
    return local_frame(spark, paths, "video_id string, path string")
