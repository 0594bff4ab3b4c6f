"""Page sources: ``pages`` (the deterministic pages-table builder) and
``warc`` (WARC/WET/WAT read and write).  Import the submodule you need:
there are no package-level re-exports, so reading WARC never imports
``pages`` and its module-level pandas."""
