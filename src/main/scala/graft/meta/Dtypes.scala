package graft.meta

/** Element-dtype registry: the write path's explicit numpy↔zarr map
  * (ngff-zarr `py/ngff_zarr/to_ngff_zarr.py:89-117`) plus the in-memory
  * decisions of SURVEY §1.2:
  *  - every real dtype decodes to Double voxel values
  *    (`ZarrStore.decodeToDoubles`): unsigned ints and float16 widen
  *    exactly, and int64/uint64 values beyond 2^53 round;
  *  - complex64/128 become (re, im) columns (`ChunkOps.complexVoxelView`);
  *  - foreign endianness is normalized to little-endian on read
  *    (`py/ngff_zarr/from_ngff_zarr.py:127-131`).
  */
object Dtypes {

  val All: Set[String] = Set(
    "bool", "int8", "int16", "int32", "int64",
    "uint8", "uint16", "uint32", "uint64",
    "float16", "float32", "float64", "complex64", "complex128")

  /** Strip numpy byte-order prefix: "<u2"/">u2"/"|u1"-style or
    * "<uint16" spellings normalize to the bare name.
    */
  def normalize(dtype: String): String = {
    val stripped = if (dtype.nonEmpty && "<>|=".contains(dtype.head)) dtype.tail else dtype
    val named = stripped match {
      case "b1" => "bool"
      case "i1" => "int8"   case "i2" => "int16"
      case "i4" => "int32"  case "i8" => "int64"
      case "u1" => "uint8"  case "u2" => "uint16"
      case "u4" => "uint32" case "u8" => "uint64"
      case "f2" => "float16" case "f4" => "float32" case "f8" => "float64"
      case "c8" => "complex64" case "c16" => "complex128"
      case other => other
    }
    require(All.contains(named), s"dtype $dtype cannot be mapped to a Zarr core dtype")
    named
  }

  def isBigEndian(dtype: String): Boolean = dtype.startsWith(">")

  def itemSize(dtype: String): Int = normalize(dtype) match {
    case "bool" | "int8" | "uint8" => 1
    case "int16" | "uint16" | "float16" => 2
    case "int32" | "uint32" | "float32" => 4
    case "int64" | "uint64" | "float64" | "complex64" => 8
    case "complex128" => 16
  }

  /** Zarr v2 dtype string (numpy typestr, little-endian). */
  def zarrV2TypeStr(dtype: String): String = normalize(dtype) match {
    case "bool" => "|b1"
    case "int8" => "|i1"   case "int16" => "<i2"
    case "int32" => "<i4"  case "int64" => "<i8"
    case "uint8" => "|u1"  case "uint16" => "<u2"
    case "uint32" => "<u4" case "uint64" => "<u8"
    case "float16" => "<f2" case "float32" => "<f4" case "float64" => "<f8"
    case "complex64" => "<c8" case "complex128" => "<c16"
  }
}
